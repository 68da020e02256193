"""Round-15 operators: the per-segment quantile-binned booster
(grouped gbt_boost over grouped bucket maps — SURVEY §7.9), plus the
grouped forms of _quantile_maps / _quantile_stump_binned it
composes. The streaming additions (grouped upsert retention, DLQ
epoch-age retention) are tested in their own sections below as they
land."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.operators import stats
from inf2106_map_reduce_spark.plans import explain_str, run_with_plans
from inf2106_map_reduce_spark.tables import load_table


def _seg_lineitem(spark, sf_oracle):
    return load_table(spark, sf_oracle, "lineitem").withColumn(
        "seg", F.col("l_linestatus")
    )


def test_status_quantile_gbt_matches_per_segment_runs(spark, sf_oracle):
    """The grouped trainer is definitionally the global trainer run on
    each segment's filtered slice with slice-fit bucket maps: stages,
    splits, leaf values, and scores must coincide EXACTLY (identical
    integer counts through identical IEEE expression trees — no
    tolerance needed)."""
    grouped = {
        (r["seg"], r["stage"]): r
        for r in stats.lineitem_status_quantile_gbt(
            spark, sf_oracle
        ).collect()
    }
    li = load_table(spark, sf_oracle, "lineitem")
    segs = [r[0] for r in li.select("l_linestatus").distinct().collect()]
    n_checked = 0
    for seg in segs:
        sl = li.filter(F.col("l_linestatus") == seg)
        solo = stats.gbt_boost(
            None, 2, binned=stats._quantile_stump_binned(sl)
        ).collect()
        for r in solo:
            g = grouped[(seg, r["stage"])]
            assert tuple(g)[1:] == tuple(r), (seg, tuple(r), tuple(g))
            n_checked += 1
    assert n_checked == len(grouped) == 2 * len(segs)


def test_status_quantile_gbt_plan_is_one_scan_per_stage(
    spark, sf_oracle, cold_session_cache
):
    """The grouped trainer keeps the LightGBM cost model for ALL
    segments together: the data collapses to its joint bin histogram
    ONCE (stats._joint_bin_hist) and every segment's stages run on the
    driver over the collected cells, so the live plan is the literal
    stage rows with ZERO data scans. Construction reads lineitem
    twice: one scan fits every segment's bucket maps for all three
    features, then the joint histogram."""
    df, built = run_with_plans(
        spark, stats.lineitem_status_quantile_gbt, sf_oracle
    )
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 0, plan
    assert "Generate" in plan and "Range" in plan, plan  # literal rows
    assert "CollectLimit" not in plan
    assert "BatchEvalPython" not in plan
    assert sum(p.count("lineitem.parquet") for p in built) == 2, built


def test_status_quantile_gbt_emits_full_trajectories(spark, sf_oracle):
    rows = stats.lineitem_status_quantile_gbt(spark, sf_oracle).collect()
    li = load_table(spark, sf_oracle, "lineitem")
    segs = {r[0] for r in li.select("l_linestatus").distinct().collect()}
    assert {r["seg"] for r in rows} == segs
    for seg in segs:
        assert sorted(r["stage"] for r in rows if r["seg"] == seg) == [1, 2]
    # scores are finite and leaf populations partition each segment
    for r in rows:
        assert r["n_left"] > 0 and r["n_right"] > 0


def test_grouped_bucket_map_matches_grouped_quantile_bins(
    spark, sf_oracle
):
    """The grouped (fb -> bucket) maps materialize grouped
    quantile_bins' closed form: folding the price map back to per-(seg,
    bucket) fine-bin ranges must reproduce quantile_bins' lo/hi bins
    exactly."""
    df = _seg_lineitem(spark, sf_oracle)
    maps = stats._quantile_maps(
        df, stats.QSTUMP_FEATURES, group_cols=("seg",)
    )
    folded: dict = {}
    for (seg,), per_feature in maps.items():
        for fb, bucket in per_feature["price"]:
            lo, hi = folded.get((seg, bucket), (fb, fb))
            folded[(seg, bucket)] = (min(lo, fb), max(hi, fb))
    bins = stats.quantile_bins(
        df, "l_extendedprice", group_cols=("seg",)
    ).collect()
    assert len(bins) == len(folded)
    for r in bins:
        assert folded[(r["seg"], r["bucket"])] == (
            r["lo_bin"], r["hi_bin"],
        ), (r["seg"], r["bucket"])


def test_grouped_binned_frame_routes_every_row(spark, sf_oracle):
    """The grouped map joins lose nothing: every lineitem row appears
    exactly once per segment in the grouped binned frame (inner joins
    against maps built from the same rows by the same expression)."""
    df = _seg_lineitem(spark, sf_oracle)
    binned = stats._quantile_stump_binned(df, group_cols=("seg",))
    got = {
        r["seg"]: r["n"]
        for r in binned.groupBy("seg").count()
        .withColumnRenamed("count", "n").collect()
    }
    want = {
        r["seg"]: r["n"]
        for r in df.groupBy("seg").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert got == want


def test_status_quantile_tree_matches_per_segment_runs(spark, sf_oracle):
    """The grouped depth-2 tree is definitionally the global tree on
    each segment's filtered slice with slice-fit maps — roots, child
    splits, and the four leaf populations coincide exactly."""
    grouped = {
        (r["seg"], r["node"]): tuple(r)
        for r in stats.lineitem_status_quantile_tree(
            spark, sf_oracle
        ).collect()
    }
    li = load_table(spark, sf_oracle, "lineitem")
    segs = [r[0] for r in li.select("l_linestatus").distinct().collect()]
    n_checked = 0
    for seg in segs:
        sl = li.filter(F.col("l_linestatus") == seg)
        for r in stats.tree_depth2(
            None, binned=stats._quantile_stump_binned(sl)
        ).collect():
            assert grouped[(seg, r["node"])][1:] == tuple(r), (seg, r)
            n_checked += 1
    assert n_checked == len(grouped) == 2 * len(segs)


def test_status_quantile_tree_plan_is_one_scan_per_level(
    spark, sf_oracle, cold_session_cache
):
    """Both levels regroup the checkpointed joint bin cells
    (stats._joint_bin_hist) for ALL segments, so the live plan shows
    ZERO data scans (the routing join broadcasts the per-segment root
    frame). Construction reads lineitem twice: the one per-segment
    bucket-map fit plus the joint histogram."""
    df, built = run_with_plans(
        spark, stats.lineitem_status_quantile_tree, sf_oracle
    )
    plan = explain_str(df, "formatted")
    assert plan.count("lineitem.parquet") == 0, plan
    assert "ExistingRDD" in plan
    assert "CollectLimit" not in plan
    assert "BatchEvalPython" not in plan
    assert sum(p.count("lineitem.parquet") for p in built) == 2, built


def test_status_quantile_gbt3_is_greedy_prefix_stable(spark, sf_oracle):
    """The grouped K = 3 booster's first two stages equal the grouped
    K = 2 entry exactly, per segment (greedy boosting is
    prefix-stable; a divergence would mean the carried-membership
    arithmetic broke under grouping), and stage 3 exists per segment
    with non-degenerate leaves."""
    k2 = {
        (r["seg"], r["stage"]): tuple(r)
        for r in stats.lineitem_status_quantile_gbt(
            spark, sf_oracle
        ).collect()
    }
    k3 = {
        (r["seg"], r["stage"]): tuple(r)
        for r in stats.lineitem_status_quantile_gbt3(
            spark, sf_oracle
        ).collect()
    }
    assert len(k3) == len(k2) // 2 * 3
    for key, val in k2.items():
        assert k3[key] == val, key
    for (seg, stage), val in k3.items():
        if stage == 3:
            assert val[4] > 0 and val[5] > 0  # n_left, n_right


def test_status_quantile_gbt3_plan_is_one_scan_per_stage(
    spark, sf_oracle, cold_session_cache
):
    df, built = run_with_plans(
        spark, stats.lineitem_status_quantile_gbt3, sf_oracle
    )
    plan = explain_str(df, "formatted")
    # every stage runs on the driver over the collected joint bin
    # cells (stats._joint_bin_hist) — the live plan is the literal
    # stage rows with ZERO data scans; the third stage adds no scan to
    # the two of the K = 2 trainer
    assert plan.count("lineitem.parquet") == 0, plan
    assert "Generate" in plan and "Range" in plan, plan  # literal rows
    assert "CollectLimit" not in plan
    assert "BatchEvalPython" not in plan
    assert sum(p.count("lineitem.parquet") for p in built) == 2, built


def test_grouped_gbt_rejects_reserved_group_cols(spark, sf_oracle):
    li = load_table(spark, sf_oracle, "lineitem")
    binned = stats._stump_binned(li).withColumn("f1", F.lit("x"))
    with pytest.raises(ValueError, match="collide with internal"):
        stats.gbt_boost(None, 2, binned=binned, group_cols=("f1",))


# ---------------------------------------------------------------------------
# Grouped (per-key-range) time-travel retention
# ---------------------------------------------------------------------------


import os

from inf2106_map_reduce_spark.streaming import stateful as stream_stateful
from inf2106_map_reduce_spark.streaming import windows as stream_windows


def test_group_retention_prefix_state_is_monotone(spark, sf_oracle):
    """Per group, snapshot v is the running aggregate of spans 0..v:
    retained versions must be monotone in keys and event counts, the
    newest retained snapshot must equal the group's one-shot batch
    aggregate, and each group keeps at most UPSERT_KEEP_VERSIONS
    versions of its own write history."""
    rows = stream_windows.streaming_upsert_group_retention(
        spark, sf_oracle
    ).collect()
    ev = load_table(spark, sf_oracle, "events").withColumn(
        "g",
        (F.col("user_id") % stream_windows.UPSERT_KEY_GROUPS).cast("int"),
    )
    want = {
        r["g"]: (r["n_keys"], r["sum_n_events"], r["max_last_ts"])
        for r in ev.groupBy("g")
        .agg(
            F.countDistinct("user_id").alias("n_keys"),
            F.count(F.lit(1)).alias("sum_n_events"),
            F.max("ts").alias("max_last_ts"),
        )
        .collect()
    }
    groups = {r["g"] for r in rows}
    assert groups == set(want)
    for g in groups:
        ret = sorted(
            (r for r in rows if r["g"] == g and
             r["disposition"] == "retained"),
            key=lambda r: r["version"],
        )
        assert 1 <= len(ret) <= stream_windows.UPSERT_KEEP_VERSIONS
        for a, b in zip(ret, ret[1:]):
            assert a["n_keys"] <= b["n_keys"]
            assert a["sum_n_events"] <= b["sum_n_events"]
            assert a["max_last_ts"] <= b["max_last_ts"]
        newest = ret[-1]
        assert (
            newest["n_keys"],
            newest["sum_n_events"],
            newest["max_last_ts"],
        ) == want[g]
        # vacuumed versions strictly precede every retained one
        vac = [r["version"] for r in rows
               if r["g"] == g and r["disposition"] == "vacuumed"]
        assert all(v < ret[0]["version"] for v in vac)


def test_group_retention_layout_is_partition_scoped(spark, sf_oracle):
    """The drain writes version snapshots partitioned by key group
    (v=<e>/g=<grp> directories), and each group's snapshot at its
    latest version <= e equals the running aggregate of the staged
    span files 0..e for that group — the time-travel read path."""
    src = stream_stateful.staged_event_spans(
        spark, sf_oracle, stream_windows.UPSERT_RETENTION_SPANS
    )
    root, last = stream_windows._grouped_upsert_drain_from(spark, src)
    versions = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(root)
        if n.startswith("v=")
    )
    assert versions[-1] == last
    # every version dir holds only g=<int> partition dirs
    for v in versions:
        subs = sorted(os.listdir(os.path.join(root, f"v={v}")))
        gdirs = [s for s in subs if s.startswith("g=")]
        assert gdirs, (v, subs)
        for s in gdirs:
            int(s.split("=", 1)[1])
    # time-travel read: pick the middle version; per group, the
    # latest snapshot <= v must equal the one-shot aggregate of the
    # span files 0..v restricted to the group
    mid = versions[len(versions) // 2]
    spans = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )[: mid + 1]
    ev = spark.read.parquet(*[os.path.join(src, f) for f in spans])
    want = {
        (r["g"], r["user_id"]): (r["n"], r["first_ts"], r["last_ts"])
        for r in ev.withColumn(
            "g",
            (F.col("user_id") % stream_windows.UPSERT_KEY_GROUPS)
            .cast("int"),
        )
        .groupBy("g", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .collect()
    }
    got = {}
    for gdir in sorted(os.listdir(os.path.join(root, f"v={mid}"))):
        if not gdir.startswith("g="):
            continue
        g = int(gdir.split("=", 1)[1])
        # dense or sparse: the group's state as of mid is its newest
        # snapshot at version <= mid
        best = max(
            v for v in versions
            if v <= mid
            and os.path.isdir(os.path.join(root, f"v={v}", f"g={g}"))
        )
        snap = spark.read.parquet(
            os.path.join(root, f"v={best}", f"g={g}")
        )
        for r in snap.collect():
            got[(g, r["user_id"])] = (
                r["n_events"], r["first_ts"], r["last_ts"],
            )
    assert got == {k: v for k, v in want.items() if k in got}
    assert set(got) == set(want)


# ---------------------------------------------------------------------------
# Time-travel AS-OF read
# ---------------------------------------------------------------------------


def test_asof_read_equals_span_prefix_aggregate(spark, sf_oracle):
    """The reconstructed historical table equals the one-shot
    aggregate of the staged span files 0..v — replayed here from the
    files themselves, independently of the sink (the oracle replays
    the same thing from the closed form)."""
    rows = {
        (r["g"], r["user_id"]): (
            r["n_events"], r["first_ts"], r["last_ts"],
        )
        for r in stream_windows.streaming_upsert_asof_read(
            spark, sf_oracle
        ).collect()
    }
    src = stream_stateful.staged_event_spans(
        spark, sf_oracle, stream_windows.UPSERT_RETENTION_SPANS
    )
    v = stream_windows.UPSERT_AS_OF_VERSION
    spans = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )[: v + 1]
    ev = spark.read.parquet(*[os.path.join(src, f) for f in spans])
    want = {
        (r["g"], r["user_id"]): (r["n"], r["f"], r["l"])
        for r in ev.withColumn(
            "g",
            (F.col("user_id") % stream_windows.UPSERT_KEY_GROUPS)
            .cast("int"),
        )
        .groupBy("g", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("f"),
            F.max("ts").alias("l"),
        )
        .collect()
    }
    assert rows == want


def test_asof_read_is_historical_not_latest(spark, sf_oracle):
    """Time travel is real: the as-of state differs from the final
    state (later spans added events), and the drain is session-cached
    so a second read returns the identical frame without re-draining."""
    first = stream_windows.streaming_upsert_asof_read(
        spark, sf_oracle
    ).collect()
    key = ("grouped_drain", sf_oracle)
    assert key in session._cache_entries
    root, last = session._cache_entries[key]
    assert last > stream_windows.UPSERT_AS_OF_VERSION
    second = stream_windows.streaming_upsert_asof_read(
        spark, sf_oracle
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))
    # the final (latest-version) state has strictly more events
    n_asof = sum(r["n_events"] for r in first)
    latest_total = 0
    for gdir in sorted(os.listdir(os.path.join(root, f"v={last}"))):
        if gdir.startswith("g="):
            latest_total += (
                spark.read.parquet(
                    os.path.join(root, f"v={last}", gdir)
                )
                .agg(F.sum("n_events"))
                .first()[0]
            )
    assert latest_total > n_asof


# ---------------------------------------------------------------------------
# CDC change feed
# ---------------------------------------------------------------------------


def test_upsert_changes_replays_onto_previous_state(spark, sf_oracle):
    """The feed is a complete, exact delta: applying it to the v−1
    state (inserts add keys, postimages replace values, everything
    else carries over) must reproduce the v state byte-for-byte —
    and every update key carries exactly one preimage equal to its
    old row and one postimage equal to its new row."""
    feed = stream_windows.streaming_upsert_changes(
        spark, sf_oracle
    ).collect()
    root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    v = stream_windows.UPSERT_AS_OF_VERSION
    prev = {
        (r["g"], r["user_id"]): (
            r["n_events"], r["first_ts"], r["last_ts"],
        )
        for r in stream_windows._asof_state(spark, root, v - 1).collect()
    }
    new = {
        (r["g"], r["user_id"]): (
            r["n_events"], r["first_ts"], r["last_ts"],
        )
        for r in stream_windows._asof_state(spark, root, v).collect()
    }
    by_type: dict = {"insert": {}, "update_preimage": {},
                     "update_postimage": {}}
    for r in feed:
        k = (r["g"], r["user_id"])
        assert k not in by_type[r["change_type"]]  # no duplicates
        by_type[r["change_type"]][k] = (
            r["n_events"], r["first_ts"], r["last_ts"],
        )
    # pairing + image exactness
    assert set(by_type["update_preimage"]) == set(
        by_type["update_postimage"]
    )
    for k, val in by_type["update_preimage"].items():
        assert val == prev[k], k
    for k, val in by_type["update_postimage"].items():
        assert val == new[k], k
    for k, val in by_type["insert"].items():
        assert k not in prev and val == new[k], k
    # completeness: replaying the feed onto prev reproduces new
    replayed = dict(prev)
    replayed.update(by_type["insert"])
    replayed.update(by_type["update_postimage"])
    assert replayed == new
    # unchanged keys are NOT emitted
    emitted = set(by_type["insert"]) | set(by_type["update_postimage"])
    unchanged = {
        k for k in prev if k in new and prev[k] == new[k]
    }
    assert not (emitted & unchanged)


def test_window_changes_equal_composed_stepwise_feeds(spark, sf_oracle):
    """The net-effect window feed (0 → final) equals the COMPOSITION
    of the stepwise feeds: fold each stepwise feed into a running
    state-delta (insert-then-update collapses to insert with the
    final values; updates chain their postimages; preimages come
    from the first touch) and compare — net semantics, exactly."""
    root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    last = stream_windows.UPSERT_RETENTION_SPANS - 1
    window = stream_windows.streaming_upsert_changes_window(
        spark, sf_oracle
    ).collect()
    # compose stepwise feeds 0->1, 1->2, ..., (last-1)->last
    born: dict = {}       # key -> final values (inserted after v0)
    pre: dict = {}        # key -> first preimage (alive at v0)
    post: dict = {}       # key -> latest postimage
    for v in range(1, last + 1):
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
            else:  # update_postimage
                if k in born:
                    born[k] = val
                else:
                    post[k] = val
    want_inserts = born
    want_pre = {k: v for k, v in pre.items() if k in post}
    want_post = post
    got_inserts, got_pre, got_post = {}, {}, {}
    for r in window:
        k = (r["g"], r["user_id"])
        val = (r["n_events"], r["first_ts"], r["last_ts"])
        {"insert": got_inserts, "update_preimage": got_pre,
         "update_postimage": got_post}[r["change_type"]][k] = val
    assert got_inserts == want_inserts
    assert got_pre == want_pre
    assert got_post == want_post


def test_window_changes_rejects_bad_versions(spark, sf_oracle):
    root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="needs 0 <= v0 < v1"):
        stream_windows.upsert_changes_between(spark, root, 2, 2)
    with _pytest.raises(ValueError, match="needs 0 <= v0 < v1"):
        stream_windows.upsert_changes_between(spark, root, -1, 2)


def test_asof_state_fails_with_intent_before_history(spark, sf_oracle):
    """Asking for the table before the sink's first write is an
    error, not an empty table — the two mean different things to a
    time-travel consumer."""
    root = stream_windows._cached_grouped_drain(spark, sf_oracle)
    with pytest.raises(ValueError, match="history starts later"):
        stream_windows._asof_state(spark, root, -1)


def test_upsert_changes_change_test_is_count_monotone(spark, sf_oracle):
    """'Changed' is exactly 'event count differs' (count grows with
    every touch, so no double comparison is needed): the update key
    set equals the keys whose span-v slice is non-empty among
    pre-existing keys, computed independently from the staged span
    files."""
    feed = stream_windows.streaming_upsert_changes(
        spark, sf_oracle
    ).collect()
    src = stream_stateful.staged_event_spans(
        spark, sf_oracle, stream_windows.UPSERT_RETENTION_SPANS
    )
    v = stream_windows.UPSERT_AS_OF_VERSION
    spans = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    g = stream_windows.UPSERT_KEY_GROUPS
    touched_v = {
        (r["user_id"] % g, r["user_id"])
        for r in spark.read.parquet(
            os.path.join(src, spans[v])
        ).collect()
    }
    prev_keys = {
        (r["user_id"] % g, r["user_id"])
        for r in spark.read.parquet(
            *[os.path.join(src, f) for f in spans[:v]]
        ).collect()
    }
    want_updates = touched_v & prev_keys
    want_inserts = touched_v - prev_keys
    got_updates = {
        (r["g"], r["user_id"])
        for r in feed
        if r["change_type"] == "update_postimage"
    }
    got_inserts = {
        (r["g"], r["user_id"])
        for r in feed
        if r["change_type"] == "insert"
    }
    assert got_updates == want_updates
    assert got_inserts == want_inserts


# ---------------------------------------------------------------------------
# DLQ epoch-age retention
# ---------------------------------------------------------------------------


def test_dlq_age_retention_conserves_the_quarantine(spark, sf_oracle):
    """The time-based policy must conserve the queue exactly like the
    rule-based one: aged + retained == quarantine, per (reason,
    event_type), in rows, users, and event-id checksum (the epoch
    split marginalizes out)."""
    rows = stream_windows.streaming_dlq_age_retention(
        spark, sf_oracle
    ).collect()
    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    q = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dlq_root)
    )
    want = {
        (r["reason"], r["event_type"]): (r["n"], r["s"])
        for r in q.groupBy("reason", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("bigint").alias("s"),
        )
        .collect()
    }
    got: dict = {}
    for r in rows:
        k = (r["reason"], r["event_type"])
        n, s = got.get(k, (0, 0))
        got[k] = (n + r["n_rows"], s + r["sum_event_id"])
    assert got == want


def test_dlq_age_retention_ages_by_watermark_age(spark, sf_oracle):
    """Policy semantics: epoch dispositions are a pure function of
    per-epoch max event time vs the integer-microsecond cutoff, aged
    epochs strictly precede retained ones in event time, and both
    dispositions are non-trivial on the 3-span staging (epoch 0 falls
    behind the half-range watermark cutoff by construction)."""
    rows = stream_windows.streaming_dlq_age_retention(
        spark, sf_oracle
    ).collect()
    disp = {}
    for r in rows:
        prev = disp.setdefault(r["epoch"], r["disposition"])
        assert prev == r["disposition"]  # one disposition per epoch
    assert "aged_out" in disp.values() and "retained" in disp.values()
    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    q = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("basePath", dlq_root)
        .parquet(dlq_root)
        .withColumn("us", F.unix_micros("ts"))
    )
    emax = {
        r["epoch"]: r["m"]
        for r in q.groupBy("epoch").agg(F.max("us").alias("m")).collect()
    }
    lo, wm = q.agg(F.min("us"), F.max("us")).first()
    cutoff = wm - (
        (wm - lo) * stream_windows.DLQ_AGE_NUM
    ) // stream_windows.DLQ_AGE_DEN
    for e, d in disp.items():
        assert d == (
            "aged_out" if emax[e] < cutoff else "retained"
        ), (e, emax[e], cutoff)
    assert max(
        emax[e] for e, d in disp.items() if d == "aged_out"
    ) < min(emax[e] for e, d in disp.items() if d == "retained")


def test_dlq_policy_retention_conserves_the_quarantine(
    spark, sf_oracle
):
    """Per-reason ageing still conserves the queue exactly: aged +
    retained == quarantine per (reason, event_type)."""
    rows = stream_windows.streaming_dlq_policy_retention(
        spark, sf_oracle
    ).collect()
    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    q = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dlq_root)
    )
    want = {
        (r["reason"], r["event_type"]): (r["n"], r["s"])
        for r in q.groupBy("reason", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("event_id").cast("bigint").alias("s"),
        )
        .collect()
    }
    got: dict = {}
    for r in rows:
        k = (r["reason"], r["event_type"])
        n, s = got.get(k, (0, 0))
        got[k] = (n + r["n_rows"], s + r["sum_event_id"])
    assert got == want


def test_dlq_policy_retention_applies_per_reason_cutoffs(
    spark, sf_oracle
):
    """Dispositions are the pure per-reason cutoff function of each
    (epoch, reason) group's max event time — and the policy table
    actually differentiates: the slow-ageing reason outlives the
    fast-ageing one on the same epochs wherever both occur."""
    rows = stream_windows.streaming_dlq_policy_retention(
        spark, sf_oracle
    ).collect()
    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    q = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("basePath", dlq_root)
        .parquet(dlq_root)
        .withColumn("us", F.unix_micros("ts"))
    )
    lo, wm = q.agg(F.min("us"), F.max("us")).first()
    policy = dict(
        (r, (n, d)) for r, n, d in stream_windows.DLQ_AGE_POLICY
    )
    gmax = {
        (r["epoch"], r["reason"]): r["m"]
        for r in q.groupBy("epoch", "reason")
        .agg(F.max("us").alias("m"))
        .collect()
    }
    seen = set()
    for r in rows:
        k = (r["epoch"], r["reason"])
        num, den = policy[r["reason"]]
        cutoff = wm - ((wm - lo) * num) // den
        assert r["disposition"] == (
            "aged_out" if gmax[k] < cutoff else "retained"
        ), (k, gmax[k], cutoff)
        seen.add(k)
    assert seen == set(gmax)
    # the fast policy must age at least one group the slow one's
    # cutoff would have kept (the table is not vacuous)
    fast_aged = [
        k for k in gmax
        if k[1] == "error_event"
        and gmax[k] < wm - ((wm - lo) * 1) // 4
        and gmax[k] >= wm - ((wm - lo) * 3) // 4
    ]
    assert fast_aged


def test_dlq_policy_retention_rewrite_is_exact(spark, sf_oracle):
    """The compacted rewrite holds exactly the retained (epoch,
    reason) groups' rows, in one right-sized file."""
    import glob

    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    summary, compact_root = stream_windows.dlq_policy_retention_pass(
        spark, dlq_root
    )
    files = glob.glob(os.path.join(compact_root, "*.parquet"))
    assert len(files) == 1, files
    retained = {
        (r["epoch"], r["reason"])
        for r in summary.collect()
        if r["disposition"] == "retained"
    }
    kept = spark.read.schema(
        stream_windows._DLQ_EVENT_SCHEMA + ", reason string, epoch int"
    ).parquet(compact_root)
    got = {
        (r["epoch"], r["reason"])
        for r in kept.select("epoch", "reason").distinct().collect()
    }
    assert got == retained
    src = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("basePath", dlq_root)
        .parquet(dlq_root)
        .withColumn("epoch", F.col("epoch").cast("int"))
    )
    n_src_retained = src.join(
        kept.select("epoch", "reason").distinct(), ["epoch", "reason"]
    ).count()
    assert kept.count() == n_src_retained


def test_dlq_age_retention_rewrite_is_compacted_and_exact(
    spark, sf_oracle
):
    """The rewrite is real: the compacted tree holds EXACTLY the
    retained epochs' rows (reason and epoch preserved), in the
    right-sized file count (one file at test scale)."""
    import glob

    _, dlq_root = stream_windows._dlq_sink_roots(spark, sf_oracle)
    summary, compact_root = stream_windows.dlq_age_retention_pass(
        spark, dlq_root
    )
    files = glob.glob(os.path.join(compact_root, "*.parquet"))
    assert len(files) == 1, files
    kept = spark.read.schema(
        stream_windows._DLQ_EVENT_SCHEMA + ", reason string, epoch int"
    ).parquet(compact_root)
    retained_epochs = {
        r["epoch"]
        for r in summary.collect()
        if r["disposition"] == "retained"
    }
    src = (
        spark.read.schema(
            stream_windows._DLQ_EVENT_SCHEMA + ", reason string"
        )
        .option("basePath", dlq_root)
        .parquet(dlq_root)
        .withColumn("epoch", F.col("epoch").cast("int"))
        .filter(F.col("epoch").isin(retained_epochs))
    )
    assert kept.count() == src.count()
    assert (
        kept.select("event_id", "reason", "epoch")
        .exceptAll(src.select("event_id", "reason", "epoch"))
        .count()
        == 0
    )
