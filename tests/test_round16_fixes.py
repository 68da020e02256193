"""Round-16 fixes (r13 VERDICT items #1/#3/#7 and ADVICE r13, five
low items): bench-gate resolution to the newest round via the
BENCH_FULL snapshot + artifact-loop-order probe bracketing (covered
by test_bench_contract against live artifacts), the grouped drain's
n_groups plumbing and per-group parallel snapshot write, the DLQ
age/policy retention shared body, and the encoding-grid fold-stamp
fragility contract."""

from __future__ import annotations

import glob
import os
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.streaming import stateful as stream_stateful
from inf2106_map_reduce_spark.streaming import windows as stream_windows


# ---------------------------------------------------------------------------
# ADVICE #1 + VERDICT #7: the grouped drain
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def grouped_drain_n3(spark, sf_smoke):
    """One drain at a NON-DEFAULT group count (the ADVICE r13 bug:
    the delta's key-group column hardcoded UPSERT_KEY_GROUPS, so any
    caller passing n_groups != 4 got a silently inconsistent
    partitioning)."""
    src = stream_stateful.staged_event_spans(
        spark, sf_smoke, stream_windows.UPSERT_RETENTION_SPANS
    )
    return stream_windows._grouped_upsert_drain_from(
        spark, src, n_groups=3
    )


def test_grouped_drain_honors_n_groups(grouped_drain_n3):
    root, last = grouped_drain_n3
    seen = set()
    for name in os.listdir(root):
        if not name.startswith("v="):
            continue
        for sub in os.listdir(os.path.join(root, name)):
            if sub.startswith("g="):
                seen.add(int(sub.split("=", 1)[1]))
    # user_id % 3 can only produce groups 0..2; the pre-fix hardcode
    # produced 0..3 here
    assert seen <= {0, 1, 2}, seen
    assert len(seen) >= 2, seen
    assert last >= 1


def test_grouped_drain_snapshot_contents_match_n3_modulus(
    spark, grouped_drain_n3
):
    """Every snapshot row's g column agrees with user_id % 3 — the
    delta expression and the directory layout use the SAME caller-
    supplied modulus."""
    root, last = grouped_drain_n3
    snap = (
        spark.read.option("basePath", os.path.join(root, f"v={last}"))
        .parquet(os.path.join(root, f"v={last}"))
    )
    bad = snap.filter(
        F.col("g") != (F.col("user_id") % 3).cast("int")
    ).count()
    assert bad == 0


def test_grouped_drain_writes_groups_in_parallel_tasks(
    grouped_drain_n3,
):
    """r13 verdict item #7: the snapshot write must not funnel every
    touched group through one task. With repartitionByRange(n, "g")
    each distinct group gets its own writer, so a version touching k
    >= 2 groups carries k distinct part-file task indices across its
    g dirs (the former repartition(1) wrote part-00000 everywhere)."""
    root, _ = grouped_drain_n3
    best_k, best_idx = 0, set()
    for name in sorted(os.listdir(root)):
        if not name.startswith("v="):
            continue
        vdir = os.path.join(root, name)
        gdirs = [s for s in os.listdir(vdir) if s.startswith("g=")]
        idx = set()
        for s in gdirs:
            for f in os.listdir(os.path.join(vdir, s)):
                m = re.match(r"part-(\d+)-", f)
                if m:
                    idx.add(int(m.group(1)))
        if len(gdirs) > best_k:
            best_k, best_idx = len(gdirs), idx
    assert best_k >= 2, "no multi-group version to check"
    assert len(best_idx) == best_k, (best_k, best_idx)


# ---------------------------------------------------------------------------
# ADVICE #3: the DLQ age/policy retention shared body
# ---------------------------------------------------------------------------


def _write_synthetic_quarantine(spark, tmp_path):
    """Three-epoch quarantine tree crafted so the per-(epoch, reason)
    policy pass SPLITS epoch 0 (error rows old enough to age under
    the strict 1/4 policy, value rows young enough to survive the
    lenient 3/4 one) while the whole-epoch age pass keeps epoch 0
    atomic — the semantic difference the shared body must preserve.

    Bounds: lo = 0, wm = 1000 s. Global age cutoff (1/2): 500 s.
    Policy cutoffs: error_event 750 s, value_out_of_range 250 s."""
    root = str(tmp_path / "dlq")
    rows = {
        0: [
            (1, 600, "error", "error_event"),
            (2, 0, "click", "value_out_of_range"),
            (3, 600, "click", "value_out_of_range"),
        ],
        1: [(4, 1000, "error", "error_event")],
        2: [
            (5, 100, "error", "error_event"),
            (6, 100, "click", "value_out_of_range"),
        ],
    }
    for epoch, rs in rows.items():
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rs],
                "ts": [pd.Timestamp(r[1] * 1_000_000, unit="us") for r in rs],
                "user_id": [100 + r[0] for r in rs],
                "event_type": [r[2] for r in rs],
                "value": [1.0] * len(rs),
                "reason": [r[3] for r in rs],
            }
        )
        spark.createDataFrame(
            pdf,
            schema=stream_windows._DLQ_EVENT_SCHEMA + ", reason string",
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(root, f"epoch={epoch}")
        )
    return root


def test_age_pass_keeps_epochs_atomic_policy_pass_splits(
    spark, tmp_path
):
    assert stream_windows.DLQ_AGE_NUM == 1
    assert stream_windows.DLQ_AGE_DEN == 2
    assert stream_windows.DLQ_AGE_POLICY == (
        ("error_event", 1, 4),
        ("value_out_of_range", 3, 4),
    )
    root = _write_synthetic_quarantine(spark, tmp_path)
    age, _ = stream_windows.dlq_age_retention_pass(spark, root)
    pol, _ = stream_windows.dlq_policy_retention_pass(spark, root)
    age_rows = {
        (r["epoch"], r["reason"]): r["disposition"]
        for r in age.collect()
    }
    pol_rows = {
        (r["epoch"], r["reason"]): r["disposition"]
        for r in pol.collect()
    }
    # whole-epoch granularity: epoch 0 retained atomically (emax 600
    # >= cutoff 500), epoch 2 aged atomically (emax 100 < 500)
    assert age_rows == {
        (0, "error_event"): "retained",
        (0, "value_out_of_range"): "retained",
        (1, "error_event"): "retained",
        (2, "error_event"): "aged_out",
        (2, "value_out_of_range"): "aged_out",
    }
    # per-(epoch, reason): epoch 0 SPLITS — error aged at the strict
    # 750 cutoff, value retained at the lenient 250 one
    assert pol_rows == {
        (0, "error_event"): "aged_out",
        (0, "value_out_of_range"): "retained",
        (1, "error_event"): "retained",
        (2, "error_event"): "aged_out",
        (2, "value_out_of_range"): "aged_out",
    }


def test_shared_body_conserves_the_quarantine(spark, tmp_path):
    """aged + retained == the whole queue, for both specializations
    of the shared body (the refactor cannot drop or double rows)."""
    root = _write_synthetic_quarantine(spark, tmp_path)
    for pass_fn in (
        stream_windows.dlq_age_retention_pass,
        stream_windows.dlq_policy_retention_pass,
    ):
        summary, compact_root = pass_fn(spark, root)
        total = sum(r["n_rows"] for r in summary.collect())
        assert total == 6, pass_fn.__name__
        kept = spark.read.parquet(compact_root)
        retained = sum(
            r["n_rows"]
            for r in summary.collect()
            if r["disposition"] == "retained"
        )
        assert kept.count() == retained, pass_fn.__name__


# ---------------------------------------------------------------------------
# ADVICE #2: the encoding-grid fold-stamp fragility contract
# ---------------------------------------------------------------------------


def test_registry_encoding_grid_is_stamped_and_cached_untouched(
    spark, sf_smoke
):
    """The registry cache must hand out the fit's frame UNTOUCHED so
    the _enc_n_folds stamp (a plain Python attribute, lost by any
    transformation) keeps the both-directions guard alive on every
    registry path."""
    g1 = stats._registry_encoding_grid(spark, sf_smoke)
    assert getattr(g1, "_enc_n_folds", None) == stats.N_ENC_FOLDS
    # second call returns the SAME object — no wrapping in between
    assert stats._registry_encoding_grid(spark, sf_smoke) is g1
    # the documented fragility: any transformation drops the stamp,
    # degrading _require_grid_folds to the one-sided fallback scan
    assert not hasattr(g1.select("*"), "_enc_n_folds")
    assert not hasattr(
        g1.localCheckpoint(eager=False), "_enc_n_folds"
    )


# ---------------------------------------------------------------------------
# VERDICT #1 companion: the round-open snapshot exists for the newest
# truncated-tail artifact (the resolver's substrate)
# ---------------------------------------------------------------------------


def test_round_open_snapshot_exists_for_newest_artifact():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest = max(
        int(m.group(1))
        for m in (
            re.search(r"BENCH_r(\d+)\.json$", p)
            for p in glob.glob(os.path.join(root, "BENCH_r*.json"))
        )
        if m
    )
    assert os.path.exists(
        os.path.join(root, f"BENCH_FULL_r{newest}.json")
    ), (
        "round-open checklist: cp BENCH_FULL.json BENCH_FULL_r{N}.json "
        "when adopting the driver artifact"
    )


# ---------------------------------------------------------------------------
# Quantile bucket-map session cache (round-16 perf item)
# ---------------------------------------------------------------------------


def test_quantile_map_cache_contract(spark, sf_smoke, cold_session_cache):
    """The registry bucket-map cache follows the encoding-grid
    idiom: ONE entry per (cache_key, group_cols, features) holding
    every feature's map; the same key returns the SAME object (no
    refit); different group_cols → a different fit; keyless calls
    never cache."""
    li = stats.load_table(spark, sf_smoke, "lineitem")
    key = (sf_smoke,)
    feats = stats.QSTUMP_FEATURES
    m1 = stats._quantile_maps(li, feats, cache_key=key)
    assert len(session._cache_entries) == 1
    assert stats._quantile_maps(li, feats, cache_key=key) is m1
    assert set(m1[()]) == {name for name, *_ in feats}
    seg = li.withColumn("seg", F.col("l_linestatus"))
    mg = stats._quantile_maps(seg, feats, ("seg",), cache_key=key)
    assert mg is not m1
    assert len(session._cache_entries) == 2
    keyless = stats._quantile_maps(li, feats)
    assert len(session._cache_entries) == 2
    assert keyless is not m1
    # the cached fit is the same map a fresh keyless fit produces
    assert keyless == m1
