"""Round-16 entries: the mid-history CDC window, the grouped-sink
small-file compaction audit, and the per-segment isotonic calibration
of the quantile-GBT margin. Each gets the family's standard evidence:
an independent recomputation (composed stepwise feeds / disk-level
conservation / the filtered-slice differential) plus the entry's own
structural pins."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import run_with_plans
from inf2106_map_reduce_spark.streaming import windows as stream_windows


# ---------------------------------------------------------------------------
# Mid-history CDC window
# ---------------------------------------------------------------------------


def test_midwindow_changes_equal_composed_stepwise_feeds(
    spark, sf_oracle
):
    """The mid-history net feed (v0 = AS_OF − 1 → final) equals the
    COMPOSITION of the stepwise feeds over exactly that sub-window —
    the whole-window entry's composition pin re-run with a non-zero
    start, which exercises the latest-≤-v0 directory resolution on
    the PREV side (degenerate at v0 = 0)."""
    root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    v0 = stream_windows.UPSERT_AS_OF_VERSION - 1
    last = stream_windows.UPSERT_RETENTION_SPANS - 1
    assert v0 > 0 and last - v0 >= 2  # genuinely mid-history, multi-step
    window = stream_windows.streaming_upsert_changes_midwindow(
        spark, sf_oracle
    ).collect()
    born: dict = {}
    pre: dict = {}
    post: dict = {}
    for v in range(v0 + 1, last + 1):
        step = stream_windows.upsert_changes_between(
            spark, root, v - 1, v
        ).collect()
        for r in step:
            k = (r["g"], r["user_id"])
            val = (r["n_events"], r["first_ts"], r["last_ts"])
            if r["change_type"] == "insert":
                assert k not in born and k not in pre
                born[k] = val
            elif r["change_type"] == "update_preimage":
                if k not in born and k not in pre:
                    pre[k] = val
            else:
                if k in born:
                    born[k] = val
                else:
                    post[k] = val
    got_inserts, got_pre, got_post = {}, {}, {}
    for r in window:
        k = (r["g"], r["user_id"])
        val = (r["n_events"], r["first_ts"], r["last_ts"])
        {"insert": got_inserts, "update_preimage": got_pre,
         "update_postimage": got_post}[r["change_type"]][k] = val
    assert got_inserts == born
    assert got_pre == {k: v for k, v in pre.items() if k in post}
    assert got_post == post


def test_midwindow_differs_from_both_sibling_feeds(spark, sf_oracle):
    """The mid window is a genuinely distinct read: its (v0, v1) pair
    differs from the stepwise (v−1, v) and whole-window (0, final)
    entries, and at the oracle SF its result differs from both (the
    window boundaries are doing work, not aliasing)."""
    v = stream_windows.UPSERT_AS_OF_VERSION
    last = stream_windows.UPSERT_RETENTION_SPANS - 1
    assert (v - 1, last) not in {(v - 1, v), (0, last)}
    mid = stream_windows.streaming_upsert_changes_midwindow(
        spark, sf_oracle
    )
    step = stream_windows.streaming_upsert_changes(spark, sf_oracle)
    whole = stream_windows.streaming_upsert_changes_window(
        spark, sf_oracle
    )
    key = lambda r: (  # noqa: E731
        r["g"], r["user_id"], r["change_type"], r["n_events"],
    )
    mid_set = {key(r) for r in mid.collect()}
    assert mid_set != {key(r) for r in step.collect()}
    assert mid_set != {key(r) for r in whole.collect()}


# ---------------------------------------------------------------------------
# Grouped-sink small-file compaction audit
# ---------------------------------------------------------------------------


def test_compaction_audit_file_counts_match_disk(spark, sf_oracle):
    """files_before/files_after are real directory listings: the
    audit's counts equal a fresh walk of the staged trees, every
    (g, version) partition of the drained tree appears exactly once,
    and files_before follows the LEAST(FRAG, n_keys) closed form the
    oracle replays."""
    rows = stream_windows.streaming_upsert_compaction(
        spark, sf_oracle
    ).collect()
    compact_root, meta = stream_windows._compacted_grouped_tree(
        spark, sf_oracle
    )
    # one audit row per staged partition, matching the meta records
    assert sorted((r["g"], r["version"]) for r in rows) == sorted(
        (g, v) for g, v, *_ in meta
    )
    meta_by = {(g, v): (fb, fa) for g, v, fb, fa in meta}
    frag = stream_windows.UPSERT_COMPACT_FRAG
    for r in rows:
        fb, fa = meta_by[(r["g"], r["version"])]
        assert r["files_before"] == fb
        assert r["files_after"] == fa
        assert r["files_before"] == min(frag, r["n_keys"])
        assert r["files_after"] == 1  # bytes << the 128 MB target
        # the compacted partition's files on disk match the audit
        out_dir = os.path.join(
            compact_root, f"v={r['version']}", f"g={r['g']}"
        )
        n_disk = len(
            [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
        )
        assert n_disk == r["files_after"]


def test_compaction_conserves_every_partition(spark, sf_oracle):
    """The rewrite is value-preserving: each compacted (g, version)
    partition holds EXACTLY the drained tree's snapshot rows (the
    fragmented intermediary dropped and duplicated nothing), and the
    source tree is untouched."""
    compact_root, _ = stream_windows._compacted_grouped_tree(
        spark, sf_oracle
    )
    table_root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    for vname in sorted(os.listdir(table_root)):
        if not vname.startswith("v="):
            continue
        for gname in sorted(
            os.listdir(os.path.join(table_root, vname))
        ):
            if not gname.startswith("g="):
                continue
            src = spark.read.parquet(
                os.path.join(table_root, vname, gname)
            )
            got = spark.read.parquet(
                os.path.join(compact_root, vname, gname)
            )
            want = sorted(map(tuple, src.collect()))
            assert sorted(map(tuple, got.collect())) == want, (
                vname, gname,
            )


def test_compaction_audit_contents_replay_from_source(
    spark, sf_oracle
):
    """Independent recomputation: the audit's content columns equal
    the running span aggregate restricted to each group — computed
    here straight from the staged span files, no sink read."""
    src = stream_windows._upsert_retention_source(spark, sf_oracle)
    g_mod = stream_windows.UPSERT_KEY_GROUPS
    spans = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    rows = stream_windows.streaming_upsert_compaction(
        spark, sf_oracle
    ).collect()
    by_pv = {(r["g"], r["version"]): r for r in rows}
    for (g, v), r in by_pv.items():
        ev = spark.read.parquet(
            *[os.path.join(src, f) for f in spans[: v + 1]]
        ).filter(F.col("user_id") % g_mod == g)
        agg = ev.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts").alias("mx")
        )
        want = agg.agg(
            F.count(F.lit(1)), F.sum("n"), F.max("mx")
        ).first()
        assert (r["n_keys"], r["sum_n_events"], r["max_last_ts"]) == (
            want[0], want[1], want[2],
        ), (g, v)


# ---------------------------------------------------------------------------
# Per-segment isotonic on the quantile-GBT margin
# ---------------------------------------------------------------------------


def test_status_gbt_isotonic_equals_filtered_slice_runs(
    spark, sf_oracle
):
    """The grouped calibration equals running the whole UNGROUPED
    pipeline on each segment's filtered slice — the definitional
    per-segment property, end to end: per-slice equi-depth maps →
    2-stage trainer → shipped-leaf scoring → global PAV fit."""
    got = stats.lineitem_status_gbt_isotonic(spark, sf_oracle)
    segs = [
        r["seg"] for r in got.select("seg").distinct().collect()
    ]
    assert len(segs) >= 2
    got_rows = {
        (r["seg"], r["bin"]): (r["n_rows"], r["pos"], r["rate"], r["iso"])
        for r in got.collect()
    }
    want_rows = {}
    li = stats.load_table(spark, sf_oracle, "lineitem")
    nu = F.lit(stats.GBT_SHRINKAGE)
    for s in segs:
        sl = li.filter(F.col("l_linestatus") == s)
        binned = stats._quantile_stump_binned(sl)
        # the model from the exploded stage rows (γ already round-9)
        # plus the slice's mean label
        stages = stats.gbt_boost(None, 2, binned=binned).collect()
        n, pos = binned.agg(F.count(F.lit(1)), F.sum("y")).first()
        ybar = F.lit(pos / n)

        def leaf(k):
            w = [r for r in stages if r["stage"] == k][0]
            return F.when(
                F.col(f"b_{w['feature']}") <= w["split_bin"],
                F.lit(w["gamma_left"]),
            ).otherwise(F.lit(w["gamma_right"]))

        p = F.round(ybar + nu * leaf(1) + nu * leaf(2), 9)
        scored = binned.select(p.alias("p"), F.col("y"))
        for r in stats.isotonic_calibration(scored).collect():
            want_rows[(s, r["bin"])] = (
                r["n_rows"], r["pos"], r["rate"], r["iso"],
            )
    assert got_rows == want_rows


def test_status_gbt_isotonic_structure(spark, sf_oracle):
    """Structural pins: ≤ 4 occupied bins per segment (2 stages × 2
    leaves — the margin's full resolution), iso monotone
    nondecreasing in bin within each segment, and mass conservation
    (Σ n_rows per segment == the segment's row count)."""
    rows = stats.lineitem_status_gbt_isotonic(spark, sf_oracle).collect()
    by_seg: dict = {}
    for r in rows:
        by_seg.setdefault(r["seg"], []).append(r)
    li = stats.load_table(spark, sf_oracle, "lineitem")
    seg_counts = {
        r["seg"]: r["n"]
        for r in li.groupBy(F.col("l_linestatus").alias("seg"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for seg, rs in by_seg.items():
        assert 1 <= len(rs) <= 4, (seg, len(rs))
        rs = sorted(rs, key=lambda r: r["bin"])
        for a, b in zip(rs, rs[1:]):
            assert a["iso"] <= b["iso"], (seg, a, b)
        for r in rs:
            assert 0.0 <= r["rate"] <= 1.0
            assert 0.0 <= r["iso"] <= 1.0
        assert sum(r["n_rows"] for r in rs) == seg_counts[seg]


# ---------------------------------------------------------------------------
# Round-16 LATE block
# ---------------------------------------------------------------------------


def test_global_gbt_isotonic_is_the_single_segment_form(
    spark, sf_oracle
):
    """The global calibration is exactly the grouped pipeline run on
    ONE segment containing everything: per-bin rows match the
    independent recomputation from the global trainer's shipped
    winner (collected) scored in pandas, with a reference PAV
    (minimax closed form) over the histogram."""
    import math

    got = {
        r["bin"]: (r["n_rows"], r["pos"], r["rate"], r["iso"])
        for r in stats.lineitem_gbt_isotonic(spark, sf_oracle).collect()
    }
    # independent scoring: the model from the exploded stage rows
    # (γ already round-9) plus the mean label, every binned row scored
    # in python, PAV in plain python over the tiny histogram
    li = stats.load_table(spark, sf_oracle, "lineitem")
    binned = stats._quantile_stump_binned(li)
    stages = {
        r["stage"]: r
        for r in stats.gbt_boost(None, 2, binned=binned).collect()
    }
    names = [name for name, *_ in stats.STUMP_BINS]
    rows = binned.select(
        *[f"b_{n}" for n in names], "y"
    ).collect()
    ybar = sum(r["y"] for r in rows) / len(rows)
    nu = stats.GBT_SHRINKAGE

    def leaf(r, k):
        w = stages[k]
        left = r[f"b_{w['feature']}"] <= w["split_bin"]
        return w["gamma_left"] if left else w["gamma_right"]

    hist: dict = {}
    n_bins = stats.ROC_BINS
    for r in rows:
        p = round(ybar + nu * leaf(r, 1) + nu * leaf(r, 2), 9)
        b = max(0, min(int(math.floor(p * n_bins)), n_bins - 1))
        n, pos = hist.get(b, (0, 0))
        hist[b] = (n + 1, pos + r["y"])
    occupied = sorted(hist)
    want = {}
    for i, b in enumerate(occupied):

        def av(h, j):
            n = sum(hist[occupied[x]][0] for x in range(h, j + 1))
            pos = sum(hist[occupied[x]][1] for x in range(h, j + 1))
            return pos / n

        iso = max(
            min(av(h, j) for j in range(i, len(occupied)))
            for h in range(0, i + 1)
        )
        n, pos = hist[b]
        want[b] = (n, pos, round(pos / n, 9), round(iso, 9))
    assert got == want


def test_gbt_isotonic_builds_from_two_scans(
    spark, sf_oracle, cold_session_cache
):
    """A cold global calibration runs three SQL executions while it is
    built: the one bucket-map fit for all features and the joint-cell
    collect (the only two that read lineitem; booster and scorer run
    on the driver over the collected cells), then the isotonic
    histogram checkpoint over the literal scored cells."""
    df, built = run_with_plans(spark, stats.lineitem_gbt_isotonic, sf_oracle)
    assert len(built) == 3, built
    assert sum("lineitem.parquet" in p for p in built) == 2, built
    assert df.count() >= 1


def test_table_stats_one_scan_and_values(spark, sf_oracle):
    """One data scan (the Expand-based multi-distinct plan), and
    every statistic matches a per-column independent recomputation."""
    df = stats.lineitem_table_stats(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    got = {r["col_name"]: r for r in df.collect()}
    li = stats.load_table(spark, sf_oracle, "lineitem")
    n_rows = li.count()
    for c in stats.LINEITEM_STATS_COLS:
        want = li.agg(
            F.count(c), F.min(c), F.max(c), F.countDistinct(c)
        ).first()
        r = got[c]
        assert r["n_rows"] == n_rows
        assert r["n_nulls"] == n_rows - want[0]
        assert r["min_val"] == round(float(want[1]), 9)
        assert r["max_val"] == round(float(want[2]), 9)
        assert r["ndv"] == want[3]


def test_write_amplification_matches_disk_and_deltas(
    spark, sf_oracle
):
    """rows_written per version equals a fresh walk of the drained
    tree's v=<e> directories; keys_changed equals each staged span
    file's distinct users; amplification >= 1 everywhere (a snapshot
    contains at least its delta's keys)."""
    rows = stream_windows.streaming_upsert_write_amplification(
        spark, sf_oracle
    ).collect()
    root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    src = stream_windows._upsert_retention_source(spark, sf_oracle)
    spans = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    by_v = {r["version"]: r for r in rows}
    versions = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(root)
        if n.startswith("v=")
    )
    assert sorted(by_v) == versions
    for v in versions:
        written = spark.read.option(
            "basePath", os.path.join(root, f"v={v}")
        ).parquet(os.path.join(root, f"v={v}")).count()
        changed = (
            spark.read.parquet(os.path.join(src, spans[v]))
            .select("user_id")
            .distinct()
            .count()
        )
        r = by_v[v]
        assert r["rows_written"] == written
        assert r["keys_changed"] == changed
        assert r["amplification"] == round(written / changed, 9)
        assert r["amplification"] >= 1.0


# ---------------------------------------------------------------------------
# Round-16 FINAL block
# ---------------------------------------------------------------------------


def test_leakage_split_no_cluster_straddles_and_covers_all(
    spark, sf_oracle
):
    """The defining property: every document of a dedup cluster lands
    on its root's side — no near-dup pair can straddle the split —
    and the two sides partition the corpus exactly (counts, cluster
    counts, and the doc_id checksum all conserve)."""
    from inf2106_map_reduce_spark.functions import dedup
    from inf2106_map_reduce_spark.tables import load_table

    comp = {
        r["doc_id"]: r["component"]
        for r in dedup.dedup_cluster_assignments(
            spark, sf_oracle
        ).collect()
    }
    docs = [
        r["doc_id"]
        for r in load_table(spark, sf_oracle, "documents")
        .select("doc_id")
        .collect()
    ]
    mod = dedup.SPLIT_HOLDOUT_MOD
    want: dict = {}
    roots: dict = {}
    for d in docs:
        root = comp.get(d, d)
        side = "holdout" if root % mod == 0 else "train"
        n, clus, s = want.get(side, (0, set(), 0))
        clus = clus | {root}
        want[side] = (n + 1, clus, s + d)
        roots.setdefault(root, set()).add(side)
    # no cluster straddles (structural on the reference computation,
    # and the entry's checksum pins the same assignment)
    assert all(len(sides) == 1 for sides in roots.values())
    got = {
        r["side"]: (r["n_docs"], r["n_clusters"], r["sum_doc_id"])
        for r in dedup.docs_leakage_safe_split(
            spark, sf_oracle
        ).collect()
    }
    assert got == {
        side: (n, len(clus), s)
        for side, (n, clus, s) in want.items()
    }
    assert sum(v[0] for v in got.values()) == len(docs)


def test_leakage_split_guard_actually_changes_assignments(
    spark, sf_oracle
):
    """The guard does work at the oracle SF: at least one clustered
    document's naive per-doc side (doc_id % MOD) differs from its
    cluster-root side — a naive split WOULD have leaked that
    near-dup pair across sides."""
    from inf2106_map_reduce_spark.functions import dedup

    mod = dedup.SPLIT_HOLDOUT_MOD
    moved = [
        r
        for r in dedup.dedup_cluster_assignments(
            spark, sf_oracle
        ).collect()
        if (r["doc_id"] % mod == 0) != (r["component"] % mod == 0)
    ]
    assert moved, "corpus has no doc whose naive side differs"


def test_events_table_stats_one_scan_and_values(spark, sf_oracle):
    df = stats.events_table_stats(spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    got = {r["col_name"]: r for r in df.collect()}
    ev = stats.load_table(spark, sf_oracle, "events")
    n_rows = ev.count()
    for c in stats.EVENTS_STATS_COLS:
        want = ev.agg(
            F.count(c), F.min(c), F.max(c), F.countDistinct(c)
        ).first()
        r = got[c]
        assert r["n_rows"] == n_rows
        assert r["n_nulls"] == n_rows - want[0]
        assert r["min_val"] == round(float(want[1]), 9)
        assert r["max_val"] == round(float(want[2]), 9)
        assert r["ndv"] == want[3]
