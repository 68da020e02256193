"""Round-11 operator pins: histogram-split stump/tree plan shape,
per-group reservoir WindowGroupLimit, and the backfill entry's
emission-boundary contract (the oracle parity suite covers values;
these tests pin the PLANS and the boundary semantics the oracles
encode)."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.functions import pipeline
from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import explain_str, run_with_plans
from inf2106_map_reduce_spark.streaming import stateful as stream_stateful
from inf2106_map_reduce_spark.streaming import windows as stream_windows


# ---------------------------------------------------------------------------
# Histogram-split stump / depth-2 tree
# ---------------------------------------------------------------------------


def _scan_count(plan: str, table: str) -> int:
    return plan.count(f"{table}.parquet")


def test_stump_is_single_scan(spark, sf_oracle):
    """The split search reads the data exactly ONCE: explode -> hash
    agg to a features x bins histogram; windows/ranking run on
    histogram rows only. One scan is the histogram-GBDT cost model."""
    df = stats.lineitem_stump_gini(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 1, plan
    # the shuffle carries partial histograms, not rows: partial agg
    # below the exchange (map-side combine)
    assert "HashAggregate" in plan


def test_tree_depth2_is_one_scan_per_level(
    spark, sf_oracle, cold_session_cache
):
    """Depth-2 training reads the data ONCE for both levels: the data
    collapses to its joint bin histogram (stats._joint_bin_hist) and
    both levels regroup the checkpointed cells; the root choice
    reaches level 2 as a broadcast scalar, never via a driver action.
    The LIVE plan shows ZERO data scans (cells + root frame are
    ExistingRDDs); the one scan ran during construction."""
    df, built = run_with_plans(spark, stats.lineitem_tree_depth2, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 0, plan
    assert "ExistingRDD" in plan  # the materialized cells + root frame
    assert "CollectLimit" not in plan
    assert sum(_scan_count(p, "lineitem") for p in built) == 1, built


def test_tree_depth2_leaf_populations_are_consistent(spark, sf_oracle):
    """The four leaf populations partition each child, and the two
    child totals partition the root split's own left/right counts."""
    stump = {
        r["feature"]: r
        for r in stats.lineitem_stump_gini(spark, sf_oracle).collect()
    }
    root = next(r for r in stump.values() if r["is_root"])
    tree = {
        r["node"]: r
        for r in stats.lineitem_tree_depth2(spark, sf_oracle).collect()
    }
    assert set(tree) == {"L", "R"}
    for node, row in tree.items():
        assert row["root_feature"] == root["feature"]
        assert row["root_bin"] == root["split_bin"]
    assert (
        tree["L"]["n_left"] + tree["L"]["n_right"] == root["n_left"]
    ), "left child grandchildren must partition the root's left count"
    assert tree["R"]["n_left"] + tree["R"]["n_right"] == root["n_right"]
    assert (
        tree["L"]["pos_left"] + tree["L"]["pos_right"] == root["pos_left"]
    )
    assert (
        tree["R"]["pos_left"] + tree["R"]["pos_right"] == root["pos_right"]
    )


def test_stump_matches_pandas_reference(spark):
    """Differential check against an independent pandas fold on a
    synthetic frame with a hand-plantable split: feature `qty` cleanly
    separates the label, so the root must split on qty with maximal
    gain; counts/gains verified against the reference arithmetic."""
    rows = []
    # 40 rows: label 'R' iff l_quantity > 25 (bin 8 is the boundary:
    # 25*0.32 = 8.0 -> bin 8; 26*0.32 = 8.32 -> bin 8 too, so use a
    # wider gap: positives at quantity 40..49 (bins 12..15))
    for i in range(30):
        rows.append((float(1 + (i % 20)), 0.02, 5000.0, "N"))
    for i in range(10):
        rows.append((float(40 + (i % 10)), 0.02, 5000.0, "R"))
    df = spark.createDataFrame(
        rows,
        "l_quantity double, l_discount double, l_extendedprice double, "
        "l_returnflag string",
    )
    out = {r["feature"]: r for r in stats.decision_stump(df).collect()}
    root = next(r for r in out.values() if r["is_root"])
    assert root["feature"] == "qty"
    # a perfect separation: gini drops from parent to 0
    n, pos = 40, 10
    parent = 1.0 - (pos / n) ** 2 - ((n - pos) / n) ** 2
    assert root["gain"] == pytest.approx(parent, abs=1e-9)
    assert (root["n_left"], root["pos_left"]) == (30, 0)
    assert (root["n_right"], root["pos_right"]) == (10, 10)
    # pandas reference for a non-separating feature (disc: all rows in
    # one bin -> no candidate split -> absent from the per-feature
    # winners entirely)
    pdf = pd.DataFrame(rows, columns=["q", "d", "p", "f"])
    assert pdf["d"].nunique() == 1
    assert "disc" not in out


def test_stump_empty_input_yields_empty_frame(spark):
    df = spark.createDataFrame(
        [],
        "l_quantity double, l_discount double, l_extendedprice double, "
        "l_returnflag string",
    )
    assert stats.decision_stump(df).count() == 0
    assert stats.tree_depth2(df).count() == 0


# ---------------------------------------------------------------------------
# Per-group reservoir sample
# ---------------------------------------------------------------------------


def test_reservoir_plan_pins_map_side_window_group_limit(spark, sf_oracle):
    """The rank<=k filter must compile to WindowGroupLimit with a
    PARTIAL (pre-shuffle) stage: each task forwards at most k rows per
    group, bounding the exchange at O(groups x k) under any skew."""
    df = pipeline.docs_group_reservoir(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("WindowGroupLimit") >= 2, plan  # Partial + Final
    assert "Partial" in plan.split("WindowGroupLimit", 2)[-1] or (
        "Partial" in plan
    ), plan


def test_reservoir_exact_group_caps_and_determinism(spark, sf_oracle):
    from inf2106_map_reduce_spark.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    sizes = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out = pipeline.group_reservoir(d).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rows in by_lang.items():
        assert len(rows) == min(pipeline.RESERVOIR_K, sizes[lang])
        assert sorted(r["rank_in_group"] for r in rows) == list(
            range(1, len(rows) + 1)
        )
    # deterministic across runs; a different salt redraws
    again = pipeline.group_reservoir(d).collect()
    assert {(r["lang"], r["doc_id"]) for r in again} == {
        (r["lang"], r["doc_id"]) for r in out
    }
    redraw = pipeline.group_reservoir(d, salt="rsv2:").collect()
    assert {(r["lang"], r["doc_id"]) for r in redraw} != {
        (r["lang"], r["doc_id"]) for r in out
    }


# ---------------------------------------------------------------------------
# Backfill emission boundary
# ---------------------------------------------------------------------------


def test_backfill_emission_contract(spark, tmp_path):
    """Pins the boundary the oracle encodes, with window ends landing
    EXACTLY on the per-batch watermarks: a window whose end == the
    batch watermark IS emitted by that batch (<=, not <), with
    lag_ms = 0; windows past the final watermark are withheld.

    Staged spans: events 09:30 / 11:00 / 12:50 / 13:00 -> span step
    (hi-lo)//2+1 puts {09:30, 11:00} in file 0 and {12:50, 13:00} in
    file 1. Batch-1 watermark = 11:00 - 1h = 10:00.000 — exactly the
    end of window [09:00, 10:00). Final watermark = 13:00 - 1h =
    12:00.000 — exactly the end of window [11:00, 12:00); windows
    [12:00,13:00) and [13:00,14:00) stay open forever."""
    base = dt.datetime(2024, 3, 1)
    ev = spark.createDataFrame(
        [
            (1, base + dt.timedelta(hours=9, minutes=30)),
            (1, base + dt.timedelta(hours=11)),
            (1, base + dt.timedelta(hours=12, minutes=50)),
            (1, base + dt.timedelta(hours=13)),
        ],
        "user_id bigint, ts timestamp",
    )
    src = str(tmp_path / "spans")
    stream_stateful.stage_session_spans(ev, src)
    out = {
        r["window_start"]: r
        for r in stream_windows.backfill_lag_over(src, spark).collect()
    }
    assert set(out) == {
        base + dt.timedelta(hours=9),
        base + dt.timedelta(hours=11),
    }
    first = out[base + dt.timedelta(hours=9)]
    assert (first["emitted_in_batch"], first["lag_ms"], first["n_events"]) == (
        1,
        0,
        1,
    )
    second = out[base + dt.timedelta(hours=11)]
    assert (
        second["emitted_in_batch"],
        second["lag_ms"],
        second["n_events"],
    ) == (2, 0, 1)


# ---------------------------------------------------------------------------
# Differential fuzz: stump/tree vs an independent pandas reference
# ---------------------------------------------------------------------------
#
# The DuckDB oracle intentionally shares its binning/gain expression
# TEXT with the Spark build (one definition table), which makes parity
# immune to transcription drift but blind to a common-mode formula
# error. This reference re-derives the greedy split search from the
# histogram definition independently (numpy folds, no shared code), so
# a wrong gain formula or a wrong tie-break would fail HERE even while
# parity stays green — the sessionizer's differential-fuzz precedent.


def _ref_gains(hist: "pd.DataFrame") -> "pd.DataFrame":
    rows = []
    for feature, g in hist.groupby("feature"):
        g = g.sort_values("bin")
        nt, post = int(g["n"].sum()), int(g["pos"].sum())
        nl = posl = 0
        for _, r in g.iterrows():
            nl += int(r["n"])
            posl += int(r["pos"])
            if nl >= nt:
                continue
            nr, posr = nt - nl, post - posl

            def gini(p, n):
                return 1.0 - (p / n) ** 2 - ((n - p) / n) ** 2

            gain = round(
                gini(post, nt)
                - (nl / nt) * gini(posl, nl)
                - (nr / nt) * gini(posr, nr),
                9,
            )
            rows.append((feature, int(r["bin"]), nl, posl, nr, posr, gain))
    return pd.DataFrame(
        rows,
        columns=[
            "feature",
            "split_bin",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "gain",
        ],
    )


def _ref_hist(pdf: "pd.DataFrame") -> "pd.DataFrame":
    import math

    recs = []
    for _, r in pdf.iterrows():
        y = 1 if r["l_returnflag"] == "R" else 0
        for name, col, op, k in stats.STUMP_BINS:
            x = float(r[col])
            scaled = x * k if op == "*" else x / k
            b = min(stats.N_STUMP_BINS - 1, int(math.floor(scaled)))
            recs.append((name, b, y))
    raw = pd.DataFrame(recs, columns=["feature", "bin", "y"])
    return (
        raw.groupby(["feature", "bin"], as_index=False)
        .agg(n=("y", "size"), pos=("y", "sum"))
    )


def _ref_best(gains: "pd.DataFrame", per_feature: bool) -> "pd.DataFrame":
    keys = ["feature"] if per_feature else []
    out = gains.sort_values(
        keys + ["gain", "feature", "split_bin"],
        ascending=[True] * len(keys) + [False, True, True],
    )
    return out.groupby(keys).head(1) if keys else out.head(1)


def test_stump_and_tree_match_independent_reference_fuzz(spark):
    import numpy as np

    rng = np.random.default_rng(20260815)
    for trial in range(3):
        n = int(rng.integers(200, 800))
        pdf = pd.DataFrame(
            {
                "l_quantity": rng.integers(1, 51, n).astype(float),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_extendedprice": rng.uniform(900, 105000, n).round(2),
                "l_returnflag": rng.choice(["R", "N", "A"], n),
            }
        )
        df = spark.createDataFrame(pdf)

        # stump: per-feature winners + global root
        got = {
            r["feature"]: r
            for r in stats.decision_stump(df).collect()
        }
        gains = _ref_gains(_ref_hist(pdf))
        want = _ref_best(gains, per_feature=True)
        assert len(got) == len(want)
        for _, w in want.iterrows():
            g = got[w["feature"]]
            assert (
                g["split_bin"],
                g["n_left"],
                g["pos_left"],
                g["n_right"],
                g["pos_right"],
            ) == (
                w["split_bin"],
                w["n_left"],
                w["pos_left"],
                w["n_right"],
                w["pos_right"],
            ), (trial, w["feature"])
            assert g["gain"] == pytest.approx(w["gain"], abs=2e-9)
        root_ref = _ref_best(gains, per_feature=False).iloc[0]
        root_got = next(r for r in got.values() if r["is_root"])
        assert (root_got["feature"], root_got["split_bin"]) == (
            root_ref["feature"],
            root_ref["split_bin"],
        )

        # depth-2: greedy recursion on each child of the reference root
        tree_got = {
            r["node"]: r
            for r in stats.tree_depth2(df).collect()
        }
        is_left = pdf.apply(
            lambda r, f=root_ref["feature"], b=root_ref["split_bin"]: (
                _ref_hist(pd.DataFrame([r])).query(
                    "feature == @f and bin <= @b"
                ).shape[0]
                > 0
            ),
            axis=1,
        )
        for node, mask in (("L", is_left), ("R", ~is_left)):
            child = pdf[mask]
            cgains = _ref_gains(_ref_hist(child))
            if cgains.empty:
                assert node not in tree_got
                continue
            cref = _ref_best(cgains, per_feature=False).iloc[0]
            cgot = tree_got[node]
            assert (cgot["feature"], cgot["split_bin"]) == (
                cref["feature"],
                cref["split_bin"],
            ), (trial, node)
            assert (
                cgot["n_left"] + cgot["n_right"],
                cgot["pos_left"] + cgot["pos_right"],
            ) == (len(child), int((child["l_returnflag"] == "R").sum()))


# ---------------------------------------------------------------------------
# Round-10 ADVICE fixes — pinned
# ---------------------------------------------------------------------------


def test_stage_spans_empty_frame_raises_with_intent(spark):
    ev = spark.createDataFrame([], "user_id bigint, ts timestamp")
    with pytest.raises(ValueError, match="empty"):
        stream_stateful.stage_session_spans(ev, "/tmp/never_written_spans")


def test_screen_probe_covers_every_band_set(spark, monkeypatch):
    """The broadcast gate must probe ALL band sets: one over-cap band
    flips the verdict to the shuffled path even when band 0 sits under
    the cap (the planner may still auto-broadcast genuinely small
    sides on its own — the pin is that the FORCED hint is withheld,
    i.e. the cached verdict is False)."""
    from inf2106_map_reduce_spark.streaming import ingest as ing

    monkeypatch.setattr(ing, "SCREEN_BROADCAST_CAP", 10)
    small = spark.range(5).select(F.col("id").cast("string").alias("band_0"))
    big = spark.range(50).select(F.col("id").cast("string").alias("band_1"))
    stream = spark.range(3).select(
        F.col("id").cast("string").alias("band_0"),
        F.col("id").cast("string").alias("band_1"),
    )
    key = ("test", "band-coverage", id(big))
    ing.neardup_screen(stream, [small, big], cache_key=key)
    assert session._cache_entries[("screen_probe", key)] is False
    # and with every band under the cap the verdict stays True
    small1 = spark.range(5).select(
        F.col("id").cast("string").alias("band_1")
    )
    key2 = ("test", "band-coverage-ok", id(small))
    ing.neardup_screen(stream, [small, small1], cache_key=key2)
    assert session._cache_entries[("screen_probe", key2)] is True


def test_plan_with_confs_is_lock_serialized():
    from inf2106_map_reduce_spark.sources import roundtrip

    assert roundtrip._PLAN_CONF_LOCK is not None
    # the lock is actually taken around the conf swap: a held lock
    # blocks a second planner until release
    assert roundtrip._PLAN_CONF_LOCK.acquire(timeout=1)
    roundtrip._PLAN_CONF_LOCK.release()


def test_bloom_runtime_join_is_warmed_in_bench():
    import bench

    assert "bloom_runtime_join" in bench.WARMUP
    assert "streaming_backfill_lag" in bench.WARMUP


def test_backfill_trajectory_matches_python_reference_fuzz(spark, tmp_path):
    """Seeded random event sets through the REAL streaming drain vs an
    independent pure-Python replay of the contract (span arithmetic,
    ms-floored watermark advance, `window_end <= wm` emission, lag) —
    the third verification layer alongside the DuckDB oracle (which
    shares its SQL text with the generator) and the exact-boundary
    synthetic case."""
    import random

    rng = random.Random(20260816)
    hour_us = 3_600_000_000
    for trial in range(2):
        lo_us = 1_709_000_000_000_000 + trial * 10 * hour_us
        n = rng.randint(120, 260)
        ts_us = sorted(
            lo_us + rng.randrange(0, 90 * hour_us) for _ in range(n)
        )
        ev = spark.createDataFrame(
            [(rng.randint(1, 9), t) for t in ts_us],
            "user_id bigint, t bigint",
        ).select("user_id", F.timestamp_micros("t").alias("ts"))
        src = str(tmp_path / f"fuzz_spans_{trial}")
        stream_stateful.stage_session_spans(ev, src)

        # pure-Python replay
        lo, hi = ts_us[0], ts_us[-1]
        n_spans = stream_stateful.SESSION_SPAN_FILES
        step = (hi - lo) // n_spans + 1
        wm_ms = []
        for i in range(1, n_spans + 1):
            seen = [t for t in ts_us if t < lo + i * step] or [lo]
            if i == n_spans:
                seen = ts_us
            wm_ms.append(max(seen) // 1000 - 3_600_000)
        windows: dict[int, int] = {}
        for t in ts_us:
            ws = t // hour_us * hour_us
            windows[ws] = windows.get(ws, 0) + 1
        expect = set()
        for ws, cnt in windows.items():
            we_ms = (ws + hour_us) // 1000
            for batch, wm in enumerate(wm_ms, start=1):
                if we_ms <= wm:
                    expect.add((ws // 1000, cnt, batch, wm - we_ms))
                    break

        got = {
            (
                # session tz is UTC and collected timestamps are naive:
                # pin the epoch conversion to UTC (host-tz independent)
                int(
                    r["window_start"]
                    .replace(tzinfo=dt.timezone.utc)
                    .timestamp()
                    * 1000
                ),
                r["n_events"],
                r["emitted_in_batch"],
                r["lag_ms"],
            )
            for r in stream_windows.backfill_lag_over(src, spark).collect()
        }
        assert got == expect, (trial, got ^ expect)


# ---------------------------------------------------------------------------
# SCD2 history build
# ---------------------------------------------------------------------------


def test_scd2_intervals_tile_and_collapse(spark, sf_oracle):
    """Per key: versions number 1..n in (ts, tiebreak) order, each
    interval ends where the next begins, exactly one open (current)
    version, and consecutive versions never carry the same attribute
    (the no-change collapse rule)."""
    from inf2106_map_reduce_spark.operators import relational

    rows = relational.orders_scd2_priority(spark, sf_oracle).collect()
    by_key: dict[int, list] = {}
    for r in rows:
        by_key.setdefault(r["o_custkey"], []).append(r)
    assert by_key
    for key, vs in by_key.items():
        vs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in vs] == list(range(1, len(vs) + 1))
        assert sum(1 for r in vs if r["is_current"]) == 1
        assert vs[-1]["is_current"] and vs[-1]["valid_to"] is None
        for a, b in zip(vs, vs[1:]):
            assert a["valid_to"] == b["valid_from"], key
            assert a["o_orderpriority"] != b["o_orderpriority"], key


def test_scd2_matches_pandas_reference_fuzz(spark):
    """Seeded random keyed update streams — small key pool (forces
    multi-version histories), colliding timestamps (forces the
    tiebreak), and a 3-value attribute (forces no-change collapses) —
    vs an independent pandas replay of the SCD2 definition: sort per
    key by (ts, tiebreak), drop re-statements, tile intervals,
    flag the open version."""
    import numpy as np

    from inf2106_map_reduce_spark.operators.relational import scd2_history

    rng = np.random.default_rng(20260820)
    for trial in range(3):
        n = int(rng.integers(200, 800))
        pdf = pd.DataFrame(
            {
                "k": rng.integers(0, 25, n),
                "a": rng.choice(["x", "y", "z"], n),
                "ts": rng.integers(0, 40, n),  # heavy collisions
                "tb": rng.permutation(n),
            }
        )
        got = {
            (r["k"], r["version"]): (
                r["a"],
                r["valid_from"],
                r["valid_to"],
                r["is_current"],
            )
            for r in scd2_history(
                spark.createDataFrame(pdf), "k", "a", "ts", "tb"
            ).collect()
        }
        want = {}
        for k, sub in pdf.sort_values(["ts", "tb"]).groupby("k"):
            versions = []
            prev = None
            for _, row in sub.iterrows():
                if prev is None or row["a"] != prev:
                    versions.append((row["a"], int(row["ts"])))
                prev = row["a"]
            for i, (a, vf) in enumerate(versions):
                vt = versions[i + 1][1] if i + 1 < len(versions) else None
                want[(int(k), i + 1)] = (a, vf, vt, vt is None)
        assert got == want, trial


def test_scd2_is_single_shuffle(spark, sf_oracle):
    """Both window passes share the (key x order) partitioning, so the
    whole history build is ONE exchange on the key."""
    from inf2106_map_reduce_spark.operators import relational
    from inf2106_map_reduce_spark.plans.inspect import shuffle_count

    df = relational.orders_scd2_priority(spark, sf_oracle)
    assert shuffle_count(df) == 1, explain_str(df, "formatted")


# ---------------------------------------------------------------------------
# Weighted per-group reservoir
# ---------------------------------------------------------------------------


def test_weighted_reservoir_plan_and_caps(spark, sf_oracle):
    """WindowGroupLimit bounds the exchange; the per-row draw list is
    built in codegen (sequence/transform/array_min — no Generate/
    explode operator); exactly min(k, |group|) rows emit per group."""
    from inf2106_map_reduce_spark.tables import load_table

    df = pipeline.docs_weighted_reservoir(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Generate" not in plan, plan
    d = load_table(spark, sf_oracle, "documents")
    sizes = {
        r["lang"]: r["n"]
        for r in d.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    by_lang: dict[str, int] = {}
    for r in df.collect():
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    for lang, n in by_lang.items():
        assert n == min(pipeline.WEIGHTED_RESERVOIR_K, sizes[lang])


def test_weighted_reservoir_biases_toward_heavy_rows(spark, sf_oracle):
    """The min-of-w-keys construction draws weight-proportionally: on
    the real corpus the sampled rows' mean weight class must exceed
    the corpus mean (deterministic given the fixed salt — a failure
    means the weighting is broken, not an unlucky draw: the sample is
    ~40 docs whose selection odds are weight-tilted)."""
    from inf2106_map_reduce_spark.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    w_expr = F.lit(1) + F.least(
        F.lit(pipeline.WEIGHT_CLASS_CAP),
        F.floor(
            F.col("n_chars") / F.lit(pipeline.WEIGHT_CLASS_CHARS)
        ).cast("int"),
    )
    corpus_mean = d.agg(F.avg(w_expr)).first()[0]
    sample = pipeline.docs_weighted_reservoir(spark, sf_oracle)
    sample_mean = sample.agg(F.avg("weight")).first()[0]
    assert sample_mean > corpus_mean, (sample_mean, corpus_mean)


# ---------------------------------------------------------------------------
# Gradient-boosted stumps
# ---------------------------------------------------------------------------


def test_gbt_is_one_scan_per_stage(
    spark, sf_oracle, cold_session_cache
):
    """Two boosting stages read the data ONCE: the data collapses to
    its joint bin histogram (stats._joint_bin_hist), which is
    collected, and both stages run on the driver over those cells.
    The LIVE plan is the literal stage rows (Range + Generate) with
    ZERO data scans; the one scan ran during construction."""
    df, built = run_with_plans(spark, stats.lineitem_gbt_stages, sf_oracle)
    plan = explain_str(df, "formatted")
    assert _scan_count(plan, "lineitem") == 0, plan
    assert "Generate" in plan and "Range" in plan, plan  # literal rows
    assert "CollectLimit" not in plan
    assert sum(_scan_count(p, "lineitem") for p in built) == 1, built


def test_gbt_matches_independent_reference_fuzz(spark):
    """Seeded random frames vs an independent numpy replay of the
    two-stage squared-loss boosting recursion (closed-form residual
    histograms) — guards the shared-SQL-text oracle against
    common-mode formula errors, like the stump fuzz."""
    import math

    import numpy as np

    rng = np.random.default_rng(20260817)
    for trial in range(3):
        n = int(rng.integers(300, 900))
        pdf = pd.DataFrame(
            {
                "l_quantity": rng.integers(1, 51, n).astype(float),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_extendedprice": rng.uniform(900, 105000, n).round(2),
                "l_returnflag": rng.choice(["R", "N", "A"], n),
            }
        )
        # per-row bins + label, mirroring STUMP_BINS independently
        bins = {}
        for name, col, op, k in stats.STUMP_BINS:
            x = pdf[col].astype(float)
            scaled = x * k if op == "*" else x / k
            bins[name] = np.minimum(
                stats.N_STUMP_BINS - 1, np.floor(scaled).astype(int)
            )
        y = (pdf["l_returnflag"] == "R").astype(int).to_numpy()

        def best_split(resid):
            # resid: per-row residual values; returns the argmax row
            cands = []
            for name in bins:
                b = bins[name]
                order = np.sort(np.unique(b))
                for t in order[:-1]:
                    left = b <= t
                    nl, nr = int(left.sum()), int((~left).sum())
                    sl, sr = float(resid[left].sum()), float(
                        resid[~left].sum()
                    )
                    score = round(sl * sl / nl + sr * sr / nr, 9)
                    cands.append(
                        (score, name, int(t), nl, nr, sl / nl, sr / nr)
                    )
            cands.sort(key=lambda c: (-c[0], c[1], c[2]))
            return cands[0]

        ybar = y.sum() / n
        r1 = y - ybar
        s1 = best_split(r1)
        leaf_left = bins[s1[1]] <= s1[2]
        gamma = np.where(leaf_left, s1[5], s1[6])
        r2 = r1 - stats.GBT_SHRINKAGE * gamma
        s2 = best_split(r2)

        got = {
            r["stage"]: r
            for r in stats.gbt_boost(spark.createDataFrame(pdf), 2).collect()
        }
        for stage, ref in ((1, s1), (2, s2)):
            g = got[stage]
            assert (g["feature"], g["split_bin"], g["n_left"], g["n_right"]) == (
                ref[1],
                ref[2],
                ref[3],
                ref[4],
            ), (trial, stage)
            assert g["score"] == pytest.approx(ref[0], abs=2e-9)
            assert g["gamma_left"] == pytest.approx(ref[5], abs=2e-9)
            assert g["gamma_right"] == pytest.approx(ref[6], abs=2e-9)
        assert not math.isnan(got[2]["score"])


# ---------------------------------------------------------------------------
# foreachBatch MERGE-upsert sink
# ---------------------------------------------------------------------------


def test_merge_latest_is_an_exact_upsert(spark):
    """MERGE semantics unit: update-existing accumulates and extends
    extremes; insert-new passes through; absent-from-delta rows are
    untouched — and the versioned recipe's idempotence is structural:
    recomputing a version from its predecessor twice gives identical
    rows (a retried batch can never double-apply its delta)."""
    cur = spark.createDataFrame(
        [
            (1, 3, dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2)),
            (2, 1, dt.datetime(2024, 1, 5), dt.datetime(2024, 1, 5)),
        ],
        "user_id bigint, n_events bigint, first_ts timestamp, last_ts timestamp",
    )
    delta = spark.createDataFrame(
        [
            (2, 2, dt.datetime(2024, 1, 4), dt.datetime(2024, 1, 6)),
            (3, 1, dt.datetime(2024, 1, 7), dt.datetime(2024, 1, 7)),
        ],
        "user_id bigint, n_events bigint, first_ts timestamp, last_ts timestamp",
    )
    merged = {
        r["user_id"]: r
        for r in stream_windows.merge_latest(cur, delta).collect()
    }
    assert merged[1]["n_events"] == 3  # untouched
    assert merged[2]["n_events"] == 3  # accumulated
    assert merged[2]["first_ts"] == dt.datetime(2024, 1, 4)  # extended
    assert merged[2]["last_ts"] == dt.datetime(2024, 1, 6)
    assert merged[3]["n_events"] == 1  # inserted
    # retry = recompute from the SAME predecessor: identical result
    again = {
        r["user_id"]: r
        for r in stream_windows.merge_latest(cur, delta).collect()
    }
    assert {k: tuple(v) for k, v in merged.items()} == {
        k: tuple(v) for k, v in again.items()
    }
