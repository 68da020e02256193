"""Round-17 operators (r14 verdict items #5-7).

FULL OUTER stream-stream join: the drain's output is pinned against an
independent pandas replay of BOTH watermark-eviction semantics (not
just the batch join), and the plan shape is asserted so the
no-data-batch policy keeps matching it structurally. DuckDB parity at
sf0.001/sf0.01 rides the shared test_oracle_parity sweep via the
registry entry.
"""

from __future__ import annotations

import pandas as pd
import pytest

from inf2106_map_reduce_spark.streaming import joins as stream_joins
from inf2106_map_reduce_spark.streaming import runtime as stream_runtime

HORIZON = pd.Timedelta(hours=1)


@pytest.fixture(scope="module")
def full_rows(spark, sf_oracle):
    return stream_joins.streaming_click_attribution_full(
        spark, sf_oracle
    ).collect()


def _events(sf_oracle: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_oracle}/events.parquet")


def _replay(sf_oracle: str):
    """Pure-pandas replay of the AvailableNow drain's semantics:
    matched pairs, clicks null-extended below wm - horizon, purchases
    null-extended below wm, wm = least(max cts, max pts) - horizon."""
    ev = _events(sf_oracle)
    c = ev[ev.event_type == "click"][["user_id", "event_id", "ts"]]
    p = ev[ev.event_type == "purchase"][["user_id", "event_id", "ts"]]
    c = c.rename(columns={"event_id": "click_id", "ts": "cts"})
    p = p.rename(columns={"event_id": "purchase_id", "ts": "pts"})
    m = c.merge(p, on="user_id")
    m = m[(m.pts >= m.cts) & (m.pts <= m.cts + HORIZON)]
    wm = min(c.cts.max(), p.pts.max()) - HORIZON
    un_c = c[~c.click_id.isin(m.click_id) & (c.cts + HORIZON < wm)]
    un_p = p[~p.purchase_id.isin(m.purchase_id) & (p.pts < wm)]
    matched = {
        (r.user_id, r.click_id, r.purchase_id) for r in m.itertuples()
    }
    left_null = {(r.user_id, r.click_id, None) for r in un_c.itertuples()}
    right_null = {
        (r.user_id, None, r.purchase_id) for r in un_p.itertuples()
    }
    return matched, left_null, right_null, wm


def test_full_outer_equals_independent_replay(full_rows, sf_oracle):
    matched, left_null, right_null, _ = _replay(sf_oracle)
    got = {(r.user_id, r.click_id, r.purchase_id) for r in full_rows}
    assert len(got) == len(full_rows)  # no duplicate emissions
    assert got == matched | left_null | right_null


def test_full_outer_emits_both_null_sides(full_rows, sf_oracle):
    """The entry exercises what its siblings can't: BOTH null-extended
    classes are non-empty at this SF, and each side's trailing
    uncertainty window is honored (no null row past its cutoff)."""
    matched, left_null, right_null, wm = _replay(sf_oracle)
    assert left_null and right_null, "fixture SF leaves a side empty"
    ev = _events(sf_oracle)
    ts_of = dict(zip(ev.event_id, ev.ts))
    for r in full_rows:
        if r.purchase_id is None:
            assert ts_of[r.click_id] + HORIZON < wm
        if r.click_id is None:
            assert ts_of[r.purchase_id] < wm


def test_full_outer_is_a_superset_of_the_left_outer_entry(
    spark, sf_oracle, full_rows
):
    """FULL OUTER minus the right-null rows IS the LEFT OUTER entry's
    output — the two drains agree row-for-row on the shared part."""
    left = stream_joins.streaming_click_attribution_outer(
        spark, sf_oracle
    ).collect()
    got_left = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in full_rows
        if r.click_id is not None
    }
    assert got_left == {
        (r.user_id, r.click_id, r.purchase_id) for r in left
    }


def test_full_outer_plan_shape_and_no_data_batch(spark, sf_oracle):
    """The analyzed streaming plan is a watermarked FullOuter join —
    the exact shape runtime.needs_no_data_batch forces the trailing
    micro-batch for (dropping it would lose every null-extended
    row)."""
    from inf2106_map_reduce_spark.tables import event_stream
    from pyspark.sql import functions as F

    def _stream():
        return event_stream(spark, sf_oracle).withWatermark(
            "ts", stream_joins.ATTRIBUTION_HORIZON
        )

    out = stream_joins.click_purchase_pairs(
        _stream().filter(F.col("event_type") == "click"),
        _stream().filter(F.col("event_type") == "purchase"),
        how="full_outer",
    )
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "Join FullOuter" in plan
    assert "EventTimeWatermark" in plan
    assert stream_runtime.needs_no_data_batch(out, "append")
    # the user key survives both null sides
    assert "user_id" in out.columns


# ---------------------------------------------------------------------------
# SCD2 history ON the upsert sink's changelog (r14 verdict item #6)
# ---------------------------------------------------------------------------


def test_upsert_scd2_equals_batch_scd2_of_replayed_stream(
    spark, sf_oracle
):
    """The verdict's pin: composing the sink's CDC feeds must equal
    the BATCH SCD2 operator (operators.relational.scd2_history)
    applied to the replayed per-version state stream — same keys,
    same attribute versions, same validity intervals, same current
    flags."""
    import os

    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.operators.relational import scd2_history
    from inf2106_map_reduce_spark.streaming import windows as sw

    root = sw._cached_grouped_drain(spark, sf_oracle)
    versions = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(root)
        if n.startswith("v=")
    )
    # the replayed update stream: every key's state at every version
    replay = None
    for v in versions:
        st = sw._asof_state(spark, root, v).select(
            F.concat_ws(
                "|", F.col("g").cast("string"), F.col("user_id")
            ).alias("key"),
            # unix_micros, not string casts: Spark's timestamp->string
            # cast trims trailing zero micros (".73809" vs Python's
            # ".738090"), which would fail the compare on formatting
            F.concat_ws(
                "|",
                F.col("n_events").cast("string"),
                F.unix_micros("first_ts").cast("string"),
                F.unix_micros("last_ts").cast("string"),
            ).alias("attr"),
            F.lit(v).cast("int").alias("v"),
        )
        replay = st if replay is None else replay.unionByName(st)
    batch = scd2_history(replay, "key", "attr", "v", "v").collect()
    want = {
        (r["key"], r["attr"], r["valid_from"], r["valid_to"], r["is_current"])
        for r in batch
    }
    got_rows = sw.streaming_upsert_scd2(spark, sf_oracle).collect()
    import datetime as dt

    def us(t):
        return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)

    got = {
        (
            f"{r.g}|{r.user_id}",
            f"{r.n_events}|{us(r.first_ts)}|{us(r.last_ts)}",
            r.valid_from,
            r.valid_to,
            r.is_current,
        )
        for r in got_rows
    }
    assert len(got) == len(got_rows)
    assert got == want


def test_upsert_scd2_interval_structure(spark, sf_oracle):
    """Type-2 invariants: per key the intervals tile the history
    (each valid_to equals the next valid_from), exactly one open
    current row per key, and n_events strictly increases across a
    key's versions (the sink never deletes)."""
    from collections import defaultdict

    from inf2106_map_reduce_spark.streaming import windows as sw

    rows = sw.streaming_upsert_scd2(spark, sf_oracle).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[(r.g, r.user_id)].append(r)
    assert by_key
    multi = 0
    for key, ivs in by_key.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ivs if r.is_current) == 1, key
        assert ivs[-1].is_current and ivs[-1].valid_to is None, key
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, key
            assert not a.is_current, key
            assert b.n_events > a.n_events, key
        multi += len(ivs) > 1
    # the fixture genuinely exercises multi-version histories
    assert multi > 0


# ---------------------------------------------------------------------------
# Incremental table-stats refresh via sketch merge (r14 verdict item #7)
# ---------------------------------------------------------------------------


def test_stats_incremental_merge_equals_whole_table_stats(
    spark, sf_oracle
):
    """The merge-of-parts == stats-of-whole contract on every exact
    field: merging the per-batch partials must reproduce the one-scan
    table_stats output bit-for-bit (counts, null counts, round-9
    bounds, exact NDV)."""
    from inf2106_map_reduce_spark.operators import stats
    from inf2106_map_reduce_spark.tables import load_table

    inc = {
        r.col_name: r
        for r in stats.lineitem_stats_incremental(
            spark, sf_oracle
        ).collect()
    }
    whole = {
        r.col_name: r
        for r in stats.table_stats(
            load_table(spark, sf_oracle, "lineitem"),
            stats.LINEITEM_STATS_COLS,
        ).collect()
    }
    assert set(inc) == set(whole) == set(stats.LINEITEM_STATS_COLS)
    for c, w in whole.items():
        i = inc[c]
        assert (i.n_rows, i.n_nulls, i.min_val, i.max_val) == (
            w.n_rows,
            w.n_nulls,
            w.min_val,
            w.max_val,
        ), c
        assert i.ndv_exact == w.ndv, c
        assert i.n_batches == stats.STATS_INGEST_BATCHES, c
        assert i.merged_within_bound is True, c


def test_hll_union_estimate_is_split_invariant_and_in_envelope(
    spark, sf_oracle
):
    """HLL merge soundness — the property that makes the refresh
    correct however ingest happens to batch the data: the merged
    estimate depends ONLY on the value set, not on the batch split
    (union is a register-wise max — commutative, associative,
    idempotent), so splitting by mod 4, mod 7, or one batch per
    linenumber must all produce the identical estimate. (A direct
    no-union single-pass sketch may differ by a few counts — the
    union path promotes to a different target representation — which
    is why the ENTRY certifies against the exact NDV envelope rather
    than a sketch-vs-sketch compare.) Each estimate must also sit
    inside the entry's envelope of the exact distinct count."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.operators import stats
    from inf2106_map_reduce_spark.tables import load_table

    li = load_table(spark, sf_oracle, "lineitem")
    for c in ("l_orderkey", "l_extendedprice"):
        s = F.col(c).cast("string")
        estimates = []
        for split in (
            F.pmod(F.col("l_orderkey"), F.lit(4)),
            F.pmod(F.col("l_orderkey"), F.lit(7)),
            F.col("l_linenumber"),
        ):
            estimates.append(
                li.withColumn("_b", split)
                .groupBy("_b")
                .agg(F.hll_sketch_agg(s).alias("sk"))
                .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")))
                .first()[0]
            )
        assert len(set(estimates)) == 1, (c, estimates)
        exact = li.agg(F.countDistinct(c)).first()[0]
        assert (
            abs(estimates[0] - exact)
            <= stats.STATS_NDV_REL_BOUND * exact
        ), (c, estimates[0], exact)
