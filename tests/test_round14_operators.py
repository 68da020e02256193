"""Round-14 operator pins: segmented encoding reliability
(marginalization completeness), the one-scan equi-depth binned stump
(plan shape + independent pandas replay), and the DLQ
retention/compaction pass (conservation + the rewrite itself). The
oracle parity suite covers values; these pin the plans and the
semantics the oracles encode."""

from __future__ import annotations

import glob
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import explain_str, run_with_plans
from inf2106_map_reduce_spark.streaming import windows as stream_windows
from inf2106_map_reduce_spark.tables import load_table


# ---------------------------------------------------------------------------
# Segmented encoding reliability
# ---------------------------------------------------------------------------


def test_status_reliability_marginalizes_to_unsplit_audit(spark, sf_oracle):
    """The pinned completeness property: summing the per-segment rows
    over segments reproduces the unsplit audit's exact counts per
    centile (same grid, same row routing — the segment key only
    splits the grouping), and the weighted recombination of the
    rounded means agrees to rounding tolerance."""
    seg_rows = stats.lineitem_status_reliability(spark, sf_oracle).collect()
    flat_rows = stats.lineitem_encoding_reliability(
        spark, sf_oracle
    ).collect()
    marg: dict[int, int] = {}
    wmean: dict[int, float] = {}
    for r in seg_rows:
        marg[r["bin"]] = marg.get(r["bin"], 0) + r["n_rows"]
        wmean[r["bin"]] = (
            wmean.get(r["bin"], 0.0) + r["n_rows"] * r["mean_encoding"]
        )
    flat = {r["bin"]: r for r in flat_rows}
    assert marg == {b: r["n_rows"] for b, r in flat.items()}
    for b, r in flat.items():
        assert wmean[b] / marg[b] == pytest.approx(
            r["mean_encoding"], abs=3e-6
        ), b


def test_status_reliability_segments_share_one_grid(spark, sf_oracle):
    """Rows of the same centile in different segments carry the SAME
    mean encoding neighborhood (the grid is the one unsplit fit): for
    each bin present in several segments, the per-segment
    mean_encoding values all sit inside the bin's centile interval —
    a per-segment grid would shift encodings across bin boundaries."""
    rows = stats.lineitem_status_reliability(spark, sf_oracle).collect()
    for r in rows:
        lo = r["bin"] / stats.ENC_RELIABILITY_BINS
        hi = (r["bin"] + 1) / stats.ENC_RELIABILITY_BINS
        assert lo - 1e-9 <= r["mean_encoding"] <= hi + 1e-9, r


# ---------------------------------------------------------------------------
# Equi-depth binned stump
# ---------------------------------------------------------------------------


def test_binned_stump_is_one_scan_pruned(spark, sf_oracle):
    """The composition's whole point: ONE data scan (labeled fine
    histogram) feeds both the bucket-edge arithmetic and the split
    search — not one scan per parent — and the scan reads only the
    feature and label columns."""
    df = stats.lineitem_binned_stump(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "CollectLimit" not in plan
    assert "l_extendedprice" in plan and "l_returnflag" in plan
    assert "l_orderkey" not in plan and "l_quantity" not in plan


def test_binned_stump_matches_pandas_composition(spark, sf_oracle):
    """Independent replay: assign each row its equi-depth bucket via a
    pure-pandas rerun of the fine-histogram rank arithmetic, compute
    every boundary's Gini gain in numpy, and compare counts and gains
    exactly (gains to 1e-12 — both sides are the same closed form
    over identical integers)."""
    import numpy as np

    pdf = (
        load_table(spark, sf_oracle, "lineitem")
        .select("l_extendedprice", "l_returnflag")
        .toPandas()
    )
    fb = np.clip(
        np.floor(
            pdf["l_extendedprice"].astype(float) / stats.QTL_FINE_WIDTH
        ).astype(int),
        0,
        stats.N_QTL_FINE - 1,
    )
    y = (pdf["l_returnflag"] == "R").astype(int).to_numpy()
    hist = (
        pd.DataFrame({"fb": fb, "n": 1, "pos": y})
        .groupby("fb", as_index=False)
        .sum()
        .sort_values("fb")
    )
    cum = hist["n"].cumsum()
    nt = int(hist["n"].sum())
    bucket = np.minimum(
        stats.N_QTL_BUCKETS - 1,
        ((cum - hist["n"]) * stats.N_QTL_BUCKETS) // nt,
    ).astype(int)
    bh = (
        pd.DataFrame(
            {"b": bucket.to_numpy(), "n": hist["n"].to_numpy(),
             "pos": hist["pos"].to_numpy()}
        )
        .groupby("b", as_index=False)
        .sum()
        .sort_values("b")
    )
    nl = bh["n"].cumsum().to_numpy()
    posl = bh["pos"].cumsum().to_numpy()
    post = int(bh["pos"].sum())

    def gini(n, p):
        return 1.0 - (p / n) ** 2 - ((n - p) / n) ** 2

    want = {}
    for i, b in enumerate(bh["b"]):
        if nl[i] >= nt:
            continue
        gain = (
            gini(nt, post)
            - (nl[i] / nt) * gini(nl[i], posl[i])
            - ((nt - nl[i]) / nt) * gini(nt - nl[i], post - posl[i])
        )
        want[int(b)] = (
            int(nl[i]), int(posl[i]), int(nt - nl[i]),
            int(post - posl[i]), round(gain, 9),
        )
    got = {
        r["split_bin"]: (
            r["n_left"], r["pos_left"], r["n_right"], r["pos_right"],
            r["gain"],
        )
        for r in stats.lineitem_binned_stump(spark, sf_oracle).collect()
    }
    assert set(got) == set(want)
    for b in want:
        assert got[b][:4] == want[b][:4], b
        assert got[b][4] == pytest.approx(want[b][4], abs=1e-12), b


def test_binned_stump_flags_exactly_one_winner(spark, sf_oracle):
    rows = stats.lineitem_binned_stump(spark, sf_oracle).collect()
    best = [r for r in rows if r["is_best"]]
    assert len(best) == 1
    assert best[0]["gain"] == max(r["gain"] for r in rows)


def test_binned_stump_candidates_are_near_equal_mass(spark, sf_oracle):
    """Equi-depth buckets put every candidate boundary at a population
    decile: n_left of boundary t sits within one fine-bin straddle of
    (t+1)·N/B — the property that makes the adaptive grid strictly
    better than equi-width on skewed features (no empty candidates)."""
    rows = sorted(
        stats.lineitem_binned_stump(spark, sf_oracle).collect(),
        key=lambda r: r["split_bin"],
    )
    nt = rows[0]["n_left"] + rows[0]["n_right"]
    b = stats.N_QTL_BUCKETS
    for r in rows:
        frac = r["n_left"] / nt
        want = (r["split_bin"] + 1) / b
        assert abs(frac - want) < 0.02, (r["split_bin"], frac, want)


def test_quantile_stump_rejects_degenerate_parameters(spark, sf_oracle):
    li = load_table(spark, sf_oracle, "lineitem")
    with pytest.raises(ValueError, match="quantile_stump needs"):
        stats.quantile_stump(li, "l_extendedprice",
                             F.col("l_returnflag") == "R", width=0.0)
    with pytest.raises(ValueError, match="quantile_stump needs"):
        stats.quantile_stump(li, "l_extendedprice",
                             F.col("l_returnflag") == "R", n_buckets=1)


# ---------------------------------------------------------------------------
# DLQ retention / compaction
# ---------------------------------------------------------------------------


def test_dlq_retention_conserves_the_quarantine(spark, sf_oracle):
    """Every quarantined row is accounted exactly once: aged_out +
    retained row counts and event-id checksums equal the quarantine
    tree's own totals (nothing dropped, nothing doubled by the
    rewrite)."""
    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    q = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dlq_root)
    )
    want_n = q.count()
    want_sum = q.agg(F.sum("event_id")).first()[0]
    rows = stream_windows.streaming_dlq_retention(spark, sf_oracle).collect()
    assert sum(r["n_rows"] for r in rows) == want_n
    assert sum(r["sum_event_id"] for r in rows) == want_sum
    assert {r["disposition"] for r in rows} == {"aged_out", "retained"}


def test_dlq_retention_rewrite_is_compacted_and_exact(spark, sf_oracle):
    """The rewrite itself, not just the audit: at test scale the
    quarantine is far below one 128 MB target, so the next-generation
    tree is ONE parquet file (epoch fragmentation collapsed), and its
    rows are exactly the corrected-rules survivors with the corrected
    reason attached."""
    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    _, compact_root = stream_windows.dlq_retention_pass(spark, dlq_root)
    files = glob.glob(os.path.join(compact_root, "*.parquet"))
    assert len(files) == 1, files
    back = spark.read.parquet(compact_root)
    q = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dlq_root)
    )
    want = (
        q.withColumn("r2", stream_windows.redrive_reason())
        .filter(F.col("r2").isNotNull())
        .drop("reason")
        .withColumnRenamed("r2", "reason")
    )
    assert back.count() == want.count()
    assert back.exceptAll(want).count() == 0
    assert want.exceptAll(back).count() == 0


# ---------------------------------------------------------------------------
# Multi-feature equi-depth stump (late block)
# ---------------------------------------------------------------------------


def test_multi_stump_is_one_scan_pruned(spark, sf_oracle):
    """All three features' labeled fine histograms come from ONE
    exploded scan (the decision_stump pattern), pruned to the three
    feature columns plus the label."""
    df = stats.lineitem_multi_binned_stump(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 1, plan
    for col in ("l_extendedprice", "l_quantity", "l_discount",
                "l_returnflag"):
        assert col in plan, col
    assert "l_orderkey" not in plan and "l_shipdate" not in plan


def test_multi_stump_price_row_matches_single_feature_entry(
    spark, sf_oracle
):
    """Cross-entry consistency: the multi stump's price row is the
    single-feature binned stump's winning boundary — same fine grid,
    same closed form, independently wired."""
    multi = {
        r["feature"]: r
        for r in stats.lineitem_multi_binned_stump(
            spark, sf_oracle
        ).collect()
    }
    single = [
        r
        for r in stats.lineitem_binned_stump(spark, sf_oracle).collect()
        if r["is_best"]
    ][0]
    got = multi["price"]
    assert got["split_bin"] == single["split_bin"]
    assert got["n_left"] == single["n_left"]
    assert got["pos_left"] == single["pos_left"]
    assert got["gain"] == pytest.approx(single["gain"], abs=1e-12)


def test_multi_stump_flags_exactly_one_root(spark, sf_oracle):
    rows = stats.lineitem_multi_binned_stump(spark, sf_oracle).collect()
    assert len(rows) == len(stats.QSTUMP_FEATURES)
    roots = [r for r in rows if r["is_root"]]
    assert len(roots) == 1
    assert roots[0]["gain"] == max(r["gain"] for r in rows)


def test_multi_stump_fuzz_vs_single_feature_runs(spark):
    """Differential fuzz of the explode wiring: on seeded random
    frames, each feature's row from the multi stump must equal the
    winning boundary of an independent single-feature
    :func:`quantile_stump` run on that column alone (same widths) —
    the explode shares nothing between features except the scan."""
    import numpy as np

    rng = np.random.default_rng(20260816)
    for trial in range(3):
        n = int(rng.integers(800, 3000))
        pdf = pd.DataFrame(
            {
                # lognormal: skewed, the adaptive grid's target case
                "a": np.round(np.exp(rng.normal(3.0, 1.0, n)), 3),
                "b": rng.integers(0, 500, n).astype(float),
                "y": rng.integers(0, 2, n),
            }
        )
        df = spark.createDataFrame(pdf)
        feats = (("fa", "a", 0.5), ("fb", "b", 2.0))
        multi = {
            r["feature"]: r
            for r in stats.quantile_stump_multi(
                df, feats, F.col("y") == 1, n_fine=512, n_buckets=8
            ).collect()
        }
        for name, col, w in feats:
            single = [
                r
                for r in stats.quantile_stump(
                    df, col, F.col("y") == 1,
                    width=w, n_fine=512, n_buckets=8,
                ).collect()
                if r["is_best"]
            ]
            if not single:
                assert name not in multi, (trial, name)
                continue
            got, want = multi[name], single[0]
            assert got["split_bin"] == want["split_bin"], (trial, name)
            assert got["n_left"] == want["n_left"], (trial, name)
            assert got["pos_left"] == want["pos_left"], (trial, name)
            assert got["gain"] == pytest.approx(
                want["gain"], abs=1e-12
            ), (trial, name)


def test_grouped_multi_stump_matches_per_segment_runs(spark, sf_oracle):
    """The grouped form is definitionally the global form run on each
    segment's filtered slice: per-segment grids, winners, and roots
    must coincide row for row (the grouped-quantile_bins pin applied
    to the stump search)."""
    grouped = {
        (r["seg"], r["feature"]): r
        for r in stats.lineitem_status_multi_stump(
            spark, sf_oracle
        ).collect()
    }
    li = load_table(spark, sf_oracle, "lineitem")
    segs = [r[0] for r in li.select("l_linestatus").distinct().collect()]
    n_checked = 0
    for seg in segs:
        solo = stats.quantile_stump_multi(
            li.filter(F.col("l_linestatus") == seg),
            stats.QSTUMP_FEATURES,
            F.col("l_returnflag") == "R",
        ).collect()
        for r in solo:
            g = grouped[(seg, r["feature"])]
            assert (
                g["split_bin"], g["n_left"], g["pos_left"], g["is_root"]
            ) == (
                r["split_bin"], r["n_left"], r["pos_left"], r["is_root"]
            ), (seg, r["feature"])
            assert g["gain"] == pytest.approx(r["gain"], abs=1e-12)
            n_checked += 1
    assert n_checked == len(grouped)


def test_multi_stump_rejects_degenerate_widths(spark, sf_oracle):
    li = load_table(spark, sf_oracle, "lineitem")
    with pytest.raises(ValueError, match="quantile_stump_multi needs"):
        stats.quantile_stump_multi(
            li, (("price", "l_extendedprice", 0.0),),
            F.col("l_returnflag") == "R",
        )


# ---------------------------------------------------------------------------
# Encoded-feature stump (final block)
# ---------------------------------------------------------------------------


def test_encoding_stump_boundaries_match_the_audit_margins(
    spark, sf_oracle
):
    """Cross-entry consistency: the stump's cumulative left counts are
    exactly the running sums of the reliability audit's per-centile
    row counts (same grid, same routing, same binning — the stump is
    the audit histogram with a split-search tail)."""
    audit = {
        r["bin"]: r["n_rows"]
        for r in stats.lineitem_encoding_reliability(
            spark, sf_oracle
        ).collect()
    }
    rows = sorted(
        stats.lineitem_encoding_stump(spark, sf_oracle).collect(),
        key=lambda r: r["split_bin"],
    )
    running = 0
    bins = sorted(audit)
    for r in rows:
        running = sum(audit[b] for b in bins if b <= r["split_bin"])
        assert r["n_left"] == running, r["split_bin"]
    total = sum(audit.values())
    assert all(r["n_left"] + r["n_right"] == total for r in rows)
    assert sum(1 for r in rows if r["is_best"]) == 1


def test_encoding_stump_plan_shape(spark, sf_oracle):
    """Registry plan: the apply side is the ONE live lineitem scan,
    the grid arrives as the session-cached checkpointed fit
    (ExistingRDD), and the split search adds NO scan (it runs over
    the <= 100-row centile histogram) — identical cost model to the
    reliability audit (whose round-13 pin documents the 4-scan raw
    lineage the checkpoint collapses)."""
    df = stats.lineitem_encoding_stump(spark, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 1, plan
    assert "ExistingRDD" in plan
    assert "CollectLimit" not in plan


# ---------------------------------------------------------------------------
# Quantile-binned GBT (final block)
# ---------------------------------------------------------------------------


def test_quantile_gbt_stage1_matches_binned_stump_boundary(
    spark, sf_oracle
):
    """Cross-entry consistency: stage 1 of the quantile-binned booster
    minimizes squared loss over the SAME per-feature decile
    histograms the stump entries search, so when the price feature
    wins both, the boundary and child populations coincide (the
    stump uses Gini, the booster SSE — both are monotone in the same
    two-class counts for a single binary split)."""
    gbt = stats.lineitem_quantile_gbt(spark, sf_oracle).collect()
    s1 = [r for r in gbt if r["stage"] == 1][0]
    multi = {
        r["feature"]: r
        for r in stats.lineitem_multi_binned_stump(
            spark, sf_oracle
        ).collect()
    }
    assert s1["feature"] in multi
    m = multi[s1["feature"]]
    assert s1["split_bin"] == m["split_bin"]
    assert s1["n_left"] == m["n_left"]
    assert s1["n_right"] == m["n_right"]


def test_quantile_binned_frame_routes_every_row(spark, sf_oracle):
    """The broadcast fb->bucket joins lose nothing (every row's fine
    bin exists in its map by construction), and each bucket column is
    a full 0..9 equi-depth assignment."""
    li = load_table(spark, sf_oracle, "lineitem")
    binned = stats._quantile_stump_binned(li)
    n = li.count()
    assert binned.count() == n
    from pyspark.sql import functions as sf

    stats_row = binned.agg(
        *[
            sf.countDistinct(f"b_{name}").alias(name)
            for name, *_ in stats.STUMP_BINS
        ]
    ).first()
    assert stats_row["price"] == stats.N_QTL_BUCKETS
    assert stats_row["qty"] == stats.N_QTL_BUCKETS


def test_quantile_gbt_plan_is_one_scan_per_stage(
    spark, sf_oracle, cold_session_cache
):
    """The LightGBM cost model survives the bin swap: the data
    collapses to its joint bin histogram ONCE (stats._joint_bin_hist)
    and both stages run on the driver over the collected cells, so the
    LIVE plan is the literal stage rows with ZERO data scans.
    Construction reads lineitem four times: one fine-histogram scan
    per bucket map (three features) plus the joint histogram."""
    df, built = run_with_plans(spark, stats.lineitem_quantile_gbt, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 0, plan
    assert "Generate" in plan and "Range" in plan, plan  # literal rows
    assert "CollectLimit" not in plan
    assert sum(p.count("lineitem.parquet") for p in built) == 4, built


def test_segmented_encoding_stump_matches_per_segment_runs(
    spark, sf_oracle
):
    """The grouped form is definitionally the global encoding stump
    run on each segment's filtered rows AGAINST THE SAME unsplit
    grid (the per-segment-matrix contract): candidates, counts, and
    winners coincide per segment."""
    grouped: dict = {}
    for r in stats.lineitem_status_encoding_stump(
        spark, sf_oracle
    ).collect():
        grouped[(r["seg"], r["split_bin"])] = r
    li = load_table(spark, sf_oracle, "lineitem")
    grid = stats._registry_encoding_grid(spark, sf_oracle)
    segs = [r[0] for r in li.select("l_linestatus").distinct().collect()]
    n_checked = 0
    for seg in segs:
        solo = stats.encoding_stump(
            li.filter(F.col("l_linestatus") == seg),
            "l_suppkey",
            stats._lineitem_enc_key(),
            F.col("l_returnflag") == "R",
            grid=grid,
        ).collect()
        for r in solo:
            g = grouped[(seg, r["split_bin"])]
            assert (g["n_left"], g["pos_left"], g["is_best"]) == (
                r["n_left"], r["pos_left"], r["is_best"],
            ), (seg, r["split_bin"])
            n_checked += 1
    assert n_checked == len(grouped)


def test_quantile_gbt3_extends_the_two_stage_run(spark, sf_oracle):
    """Greedy boosting is prefix-stable: the K=3 trainer's first two
    stages are exactly the K=2 trainer's output (same recursion, one
    more level appended)."""
    g2 = sorted(
        map(tuple, stats.lineitem_quantile_gbt(spark, sf_oracle).collect())
    )
    g3 = stats.lineitem_quantile_gbt3(spark, sf_oracle).collect()
    assert len(g3) == 3
    g3_prefix = sorted(
        map(tuple, (r for r in g3 if r["stage"] <= 2))
    )
    assert g2 == g3_prefix


# ---------------------------------------------------------------------------
# Depth-2 tree on adaptive grids (final block)
# ---------------------------------------------------------------------------


def test_quantile_tree_root_is_the_stump_boundary(spark, sf_oracle):
    """Level 1 of the quantile tree searches the same per-feature
    decile histograms as the multi stump, so the elected root is the
    multi stump's global winner."""
    rows = stats.lineitem_quantile_tree(spark, sf_oracle).collect()
    root_pick = {(r["root_feature"], r["root_bin"]) for r in rows}
    assert len(root_pick) == 1
    winner = [
        r
        for r in stats.lineitem_multi_binned_stump(
            spark, sf_oracle
        ).collect()
        if r["is_root"]
    ][0]
    assert root_pick == {(winner["feature"], winner["split_bin"])}


def test_quantile_tree_children_partition_the_data(spark, sf_oracle):
    """The two child rows' grandchild populations sum to the table
    size (routing is a partition, nothing dropped or doubled)."""
    rows = stats.lineitem_quantile_tree(spark, sf_oracle).collect()
    assert {r["node"] for r in rows} == {"L", "R"}
    total = sum(r["n_left"] + r["n_right"] for r in rows)
    n = load_table(spark, sf_oracle, "lineitem").count()
    assert total == n


def test_quantile_tree_plan_is_one_scan_per_level(
    spark, sf_oracle, cold_session_cache
):
    """The data collapses to its joint bin histogram ONCE
    (stats._joint_bin_hist) and both levels regroup the checkpointed
    cells, so the LIVE plan shows ZERO data scans. Construction reads
    lineitem four times: three bucket-map scans plus the joint
    histogram."""
    df, built = run_with_plans(spark, stats.lineitem_quantile_tree, sf_oracle)
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 0, plan
    assert "ExistingRDD" in plan  # checkpointed maps + root frame
    assert "CollectLimit" not in plan
    assert sum(p.count("lineitem.parquet") for p in built) == 4, built


# ---------------------------------------------------------------------------
# Upsert-sink version vacuum (late block)
# ---------------------------------------------------------------------------


def test_upsert_vacuum_retained_equals_batch_aggregate(spark, sf_oracle):
    """Delivery correctness survives the deletion: the retained-row
    audit read back from the surviving latest snapshot equals the
    one-shot batch aggregate of the whole archive."""
    rows = {
        r["disposition"]: r
        for r in stream_windows.streaming_upsert_vacuum(
            spark, sf_oracle
        ).collect()
    }
    ev = load_table(spark, sf_oracle, "events")
    want_keys = ev.select("user_id").distinct().count()
    want_events = ev.count()
    want_max_ts = ev.agg(F.max("ts")).first()[0]
    got = rows["retained"]
    assert got["n_keys"] == want_keys
    assert got["sum_n_events"] == want_events
    assert got["max_last_ts"] == want_max_ts
    assert got["n_versions"] == 1


def test_upsert_vacuum_removes_the_superseded_versions(spark, sf_oracle):
    """The vacuumed count is the span-staging batch count minus the
    retained latest (the pinned version-history contract), and the
    drain+vacuum is deterministic: two full passes report identical
    audits (each pass owns a fresh version tree, so deletion cannot
    leak between runs)."""
    from inf2106_map_reduce_spark.streaming import stateful as st

    a = sorted(
        map(
            tuple,
            stream_windows.streaming_upsert_vacuum(
                spark, sf_oracle
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            stream_windows.streaming_upsert_vacuum(
                spark, sf_oracle
            ).collect(),
        )
    )
    assert a == b
    vac = [r for r in a if r[0] == "vacuumed"][0]
    assert vac[1] == st.SESSION_SPAN_FILES - 1


def test_upsert_retention_keeps_a_consistent_history(spark, sf_oracle):
    """The keep-last-R audit: the newest retained snapshot equals the
    one-shot batch aggregate (nothing lost through 4 merges + 2
    deletions), every retained snapshot is a PREFIX state (counts
    monotone, keys never shrink), and vacuumed rows are exactly the
    aged version ids with no contents."""
    rows = sorted(
        stream_windows.streaming_upsert_retention(
            spark, sf_oracle
        ).collect(),
        key=lambda r: r["version"],
    )
    n_spans = stream_windows.UPSERT_RETENTION_SPANS
    keep = stream_windows.UPSERT_KEEP_VERSIONS
    assert [r["version"] for r in rows] == list(range(n_spans))
    vac = [r for r in rows if r["disposition"] == "vacuumed"]
    ret = [r for r in rows if r["disposition"] == "retained"]
    assert [r["version"] for r in vac] == list(range(n_spans - keep))
    assert all(r["n_keys"] is None for r in vac)
    ev = load_table(spark, sf_oracle, "events")
    newest = ret[-1]
    assert newest["sum_n_events"] == ev.count()
    assert newest["n_keys"] == ev.select("user_id").distinct().count()
    for a, b in zip(ret, ret[1:]):
        assert a["sum_n_events"] <= b["sum_n_events"]
        assert a["n_keys"] <= b["n_keys"]
        assert a["max_last_ts"] <= b["max_last_ts"]


def test_upsert_retention_is_deterministic_across_passes(spark, sf_oracle):
    """Each pass drains and ages its own fresh version history, so
    repeated runs report identical audits (no cross-run deletion
    leakage)."""
    a = sorted(
        map(
            tuple,
            stream_windows.streaming_upsert_retention(
                spark, sf_oracle
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            stream_windows.streaming_upsert_retention(
                spark, sf_oracle
            ).collect(),
        )
    )
    assert a == b


def test_dlq_retention_ages_only_redrivable_reasons(spark, sf_oracle):
    """Aged rows carry their ORIGINAL quarantine reason, and only
    reasons the corrected rule table actually relaxed can age out
    (the value cap was the false positive; error events never age)."""
    rows = stream_windows.streaming_dlq_retention(spark, sf_oracle).collect()
    aged_reasons = {
        r["reason"] for r in rows if r["disposition"] == "aged_out"
    }
    retained_reasons = {
        r["reason"] for r in rows if r["disposition"] == "retained"
    }
    dlq_names = {name for name, _ in stream_windows.DLQ_RULES}
    redrive_names = {name for name, _ in stream_windows.REDRIVE_RULES}
    assert aged_reasons <= dlq_names
    assert retained_reasons <= redrive_names
    assert "error_event" not in aged_reasons
