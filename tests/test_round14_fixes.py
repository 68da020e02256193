"""Round-14 advisor fixes (ADVICE r11, four low items): NULL group
keys in grouped isotonic calibration, reserved-name guard on its
group_cols, the encoding-reliability grid/n_folds mismatch guard, and
empty-sink DLQ summaries."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.streaming import windows as stream_windows


def test_grouped_isotonic_keeps_null_group_keys(spark):
    """A NULL group key forms a normal partition in every window of
    the operator; the pair join must not silently drop it (ADVICE r11:
    plain equality made NULL groups vanish between the hist and pair
    stages, inconsistent with grouped quantile_bins)."""
    pdf = pd.DataFrame(
        {
            "seg": ["a"] * 40 + [None] * 40,
            "p": [i / 40 % 1.0 for i in range(80)],
            "y": [int(i % 3 == 0) for i in range(80)],
        }
    )
    scored = spark.createDataFrame(pdf)
    rows = stats.isotonic_calibration(
        scored, n_bins=16, group_cols=("seg",)
    ).collect()
    segs = {r["seg"] for r in rows}
    assert None in segs and "a" in segs
    # the NULL group's fit equals an ungrouped run on the NULL subset
    null_rows = sorted(
        ((r["bin"], r["n_rows"], r["pos"], r["iso"]) for r in rows
         if r["seg"] is None)
    )
    solo = stats.isotonic_calibration(
        spark.createDataFrame(pdf[pdf["seg"].isna()][["p", "y"]]),
        n_bins=16,
    ).collect()
    want = sorted(
        ((r["bin"], r["n_rows"], r["pos"], r["iso"]) for r in solo)
    )
    assert null_rows == want


def test_isotonic_rejects_reserved_group_col_names(spark):
    """group_cols colliding with internal stage columns fail with
    intent instead of an ambiguous-resolution analysis error."""
    scored = spark.createDataFrame(
        pd.DataFrame({"bin": ["a", "b"], "p": [0.1, 0.9], "y": [0, 1]})
    )
    with pytest.raises(ValueError, match="collide with internal"):
        stats.isotonic_calibration(scored, group_cols=("bin",))
    with pytest.raises(ValueError, match="collide with internal"):
        stats.isotonic_calibration(scored, group_cols=("_ga_x",))


def test_encoding_reliability_rejects_mismatched_grid(spark):
    """A grid fit under a different n_folds must error, not silently
    drop the unmatched (category, fold) rows from the audit."""
    pdf = pd.DataFrame(
        {
            "cat": [f"c{i % 4}" for i in range(200)],
            "k": [str(i) for i in range(200)],
            "y": [int(i % 5 == 0) for i in range(200)],
        }
    )
    df = spark.createDataFrame(pdf)
    grid7 = stats.target_encoding(
        df, "cat", F.col("k"), F.col("y") == 1, n_folds=7
    ).localCheckpoint(eager=True)
    with pytest.raises(ValueError, match="different n_folds"):
        stats.encoding_reliability(
            df, "cat", F.col("k"), F.col("y") == 1, n_folds=5, grid=grid7
        )
    # matching fold count passes through the guard
    grid5 = stats.target_encoding(
        df, "cat", F.col("k"), F.col("y") == 1, n_folds=5
    ).localCheckpoint(eager=True)
    out = stats.encoding_reliability(
        df, "cat", F.col("k"), F.col("y") == 1, n_folds=5, grid=grid5
    )
    assert sum(r["n_rows"] for r in out.collect()) == 200


def test_dlq_summary_of_empty_sink_is_empty(spark, tmp_path):
    """A sink tree holding only _SUCCESS markers (e.g. a redrive whose
    corrected rules cleared every quarantined row) summarizes to zero
    rows instead of an 'unable to infer schema' error (ADVICE r11)."""
    root = str(tmp_path)
    os.makedirs(os.path.join(root, "epoch=0"), exist_ok=True)
    open(os.path.join(root, "epoch=0", "_SUCCESS"), "w").close()
    out = stream_windows._dlq_summary(
        spark, root, "still_dlq", F.col("reason"), with_reason_col=True
    )
    assert out.count() == 0
    assert out.columns == [
        "disposition", "reason", "event_type", "n_rows", "n_users",
        "sum_event_id",
    ]
