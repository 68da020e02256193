"""Windowed aggregations over events — batch and streaming forms.

Each aggregation is defined ONCE as a DataFrame transform and applied
to either a batch scan or a ``readStream`` source; the streaming form
adds a watermark (late-data bound → state eviction — mandatory for
unbounded state at scale).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.session import scratch_dir, session_cache
from inf2106_map_reduce_spark.streaming import stateful as stream_stateful

from inf2106_map_reduce_spark.streaming.runtime import (
    batch_writer,
    drain,
    state_partitions_for,
)
from inf2106_map_reduce_spark.tables import event_stream, load_table

WATERMARK = "1 hour"


def tumbling_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows: per (window, event_type) count + sum."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sliding_hourly(events: DataFrame) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide (each event in 2
    windows)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-merged), Spark's native
    session_window — count of sessions & events per user."""
    per_session = (
        events.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
    )


def multires_rollup(events: DataFrame) -> DataFrame:
    """Hypertable-style multi-resolution rollup: the daily aggregate is
    computed FROM the hourly aggregate (re-aggregation of partials —
    sum of sums, sum of counts), not from raw events. At 100 TB the
    hourly table is the materialized continuous aggregate; dailies,
    weeklies, monthlies all derive from it at 1/24th+ the input size,
    and the pattern only works for decomposable aggregates — which is
    why the emitted columns are sums/counts, with averages derived at
    the end."""
    hourly = (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv"))
    )
    return (
        hourly.groupBy(
            F.date_trunc("day", F.col("hour")).cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.sum("n").alias("n"),
            F.round(F.sum("sv"), 2).alias("total_value"),
            F.count(F.lit(1)).alias("n_hours"),
            # avg derived from the 2-dec-rounded total: raw sum(sv)
            # differs across engines/runs in the last ulp (summation
            # order), which flips round(...,6) on boundary values
            F.round(F.round(F.sum("sv"), 2) / F.sum("n"), 6).alias("avg_value"),
        )
    )


def _run_available_now(
    spark: SparkSession,
    sf_dir: str,
    transform,
    with_watermark: bool = True,
    state_keys=None,
    state_key_id: tuple | None = None,
    output_mode: str = "complete",
) -> DataFrame:
    """Execute a windowed transform as a REAL stream over the parquet
    events table (one :func:`runtime.drain` through the
    :func:`runtime.batch_writer` parquet sink) and return the result
    read back from the sink. No driver-side materialization: each
    micro-batch's result is written distributed to parquet — complete
    mode overwrites (the whole table is re-emitted per batch); append
    mode writes each batch's newly-FINALIZED rows into its own
    ``epoch=<id>`` partition, so the sink union across epochs is the
    query result and a retried micro-batch replaces its own partition.
    The same code ships against kafka/file sources in production."""
    stream = event_stream(spark, sf_dir)
    if with_watermark:
        stream = stream.withWatermark("ts", WATERMARK)
    out = transform(stream)
    sink = scratch_dir(spark, "stream_sink_")
    drain(
        out,
        batch_writer(sink, output_mode),
        output_mode=output_mode,
        state_partitions=state_partitions_for(
            state_keys, cache_key=state_key_id
        ),
    )
    return spark.read.parquet(sink).drop("epoch")


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: tumbling-window agg executed through Structured
    Streaming (AvailableNow) — oracle-checked against the same SQL the
    batch form uses. State keys in flight = (hour bucket, event_type);
    the batch proxy of exactly that sizes the state partitions."""
    return _run_available_now(
        spark,
        sf_dir,
        tumbling_hourly,
        state_keys=load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ),
        state_key_id=(sf_dir, "events", "hour", "event_type"),
    )


def streaming_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the SAME tumbling-window aggregation in APPEND
    output mode — each window is emitted EXACTLY ONCE, when the
    watermark passes its end (complete mode re-emits the whole result
    table every batch, which no 100 TB sink can absorb; append is the
    production output mode for watermarked window aggs). Under the
    AvailableNow drain the data batch emits nothing (the watermark is
    still at its initial value while batch 1 runs), and the trailing
    no-data batch — forced ON for this shape by
    :func:`runtime.needs_no_data_batch` — advances the watermark to
    max(ts) − 1 h and flushes every finalized window.

    Emission contract (oracle-encoded): a window is final iff
    ``window_end <= max(ts) − watermark_delay`` with the watermark
    truncated to MILLISECONDS (Spark tracks event-time watermarks in
    ms; `EventTimeWatermarkExec` floors to ms before the state-eviction
    compare). Windows still open when the stream drains — the last
    partial hour — are withheld, exactly as a live deployment would
    withhold them until more data arrives.

    Idempotence: each epoch's finalized rows land in their own
    ``epoch=<id>`` sink partition via per-partition overwrite, so a
    retried micro-batch replaces rather than duplicates (foreachBatch
    is at-least-once)."""
    return _run_available_now(
        spark,
        sf_dir,
        tumbling_hourly,
        state_keys=load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ),
        state_key_id=(sf_dir, "events", "hour", "event_type"),
        output_mode="append",
    )


def batch_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: same aggregation, batch execution."""
    return tumbling_hourly(load_table(spark, sf_dir, "events"))


def batch_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: sliding-window agg (batch)."""
    return sliding_hourly(load_table(spark, sf_dir, "events"))


def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the SAME sliding-window transform through
    Structured Streaming (AvailableNow) — one definition, two
    bindings; oracle shared with the batch form. Hour buckets ×
    event_type approximate the ~2× sliding-window key count — well
    inside one sizing step of the 100k-keys-per-partition rule."""
    return _run_available_now(
        spark,
        sf_dir,
        sliding_hourly,
        state_keys=load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ),
        state_key_id=(sf_dir, "events", "hour", "event_type"),
    )


def enriched_segment_stats(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Stream-static enrichment: events joined to the customer
    dimension (broadcast — the static side is built once and reused
    across micro-batches), aggregated per (segment, event_type)."""
    return (
        events.join(F.broadcast(customer), events.user_id == customer.c_custkey)
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def streaming_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: stream-static join — the events STREAM joined to
    the static customer dim inside the micro-batch plan (no watermark
    needed: the static side never advances), then a complete-mode agg.
    Oracle-checked against the plain batch join."""
    customer = load_table(spark, sf_dir, "customer")
    return _run_available_now(
        spark,
        sf_dir,
        lambda s: enriched_segment_stats(s, customer),
        with_watermark=False,
        # state keys = (segment, event_type): a handful — the floor
        # partition count applies
        state_keys=load_table(spark, sf_dir, "events").select("event_type"),
        state_key_id=(sf_dir, "events", "event_type"),
    )


def batch_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: native session_window agg (batch)."""
    return session_windows(load_table(spark, sf_dir, "events"))


def batch_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: daily rollup re-aggregated from hourly partials."""
    return multires_rollup(load_table(spark, sf_dir, "events"))


def session_windows_raw(events: DataFrame) -> DataFrame:
    """Per-session rows (ONE stateful aggregation — streaming-legal):
    session start = min event ts in the gap-merged window."""
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id", F.col("w.start").alias("session_start"), "n_events"
        )
    )


def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: session windows through Structured Streaming
    (AvailableNow). Session state is gap-merged per user; the watermark
    bounds how long an open session can wait for late events before its
    state is finalized — without it, session state grows unboundedly at
    scale. Emits per-session rows: a second (per-user) aggregation
    downstream of a session window is rejected by Spark's streaming
    correctness check, and at scale belongs in the batch rollup over
    the emitted sessions anyway. Oracle: gap-merge via lag()+running
    sum with the same >= comparison as the batch form. Open-session
    state is one merged window per active user → user_id cardinality
    sizes the partitions."""
    return _run_available_now(
        spark,
        sf_dir,
        session_windows_raw,
        state_keys=load_table(spark, sf_dir, "events").select("user_id"),
        state_key_id=(sf_dir, "events", "user_id"),
    )


# ---------------------------------------------------------------------------
# Streaming windowed approximate-distinct (streaming x sketch)
# ---------------------------------------------------------------------------

#: Audit envelope for the streaming HLL++ estimate: rsd=0.02 gives
#: ~2% relative error at large cardinalities, and HLL++ is EXACT in
#: sparse mode at the small per-window cardinalities of the test SFs —
#: 10% relative + 16 absolute keeps the verdict deterministically TRUE
#: at any SF (the oracle pins it literal-TRUE, so an estimator
#: regression goes red rather than both sides agreeing on a bad
#: number — the sketch-entry pattern).
STREAM_DISTINCT_REL_BOUND = 0.10
STREAM_DISTINCT_ABS_SLACK = 16.0


def windowed_distinct_users(events: DataFrame) -> DataFrame:
    """Per (1-hour window, event_type): event count + HLL++ distinct
    users. approx_count_distinct is a MERGEABLE aggregate (partial
    HLL buffers merge associatively), so it runs in watermarked
    streaming aggregation state where exact COUNT(DISTINCT) cannot —
    the state per key is the fixed ~KB sketch, not the user set.
    That is the only distinct-counting shape that survives unbounded
    streams at 100 TB scale."""
    return (
        events.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias(
                "_approx_users"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "_approx_users",
        )
    )


def streaming_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: streaming windowed DISTINCT-USER counting — the
    streaming x sketch composition. The stream maintains per-window
    HLL++ state (exact distinct aggregation is unsupported/unboundable
    in streaming); the drained estimates are then audited against the
    batch-exact distinct counts, emitting exact keys/counts plus the
    envelope verdict (the :func:`sketches.sketch_rollup_orders`
    audit pattern, lifted to streaming state)."""
    est = _run_available_now(
        spark,
        sf_dir,
        windowed_distinct_users,
        state_keys=load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        ),
        state_key_id=(sf_dir, "events", "hour", "event_type", "hll"),
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            F.col("event_type"),
        )
        .agg(F.countDistinct("user_id").alias("n_distinct_users"))
    )
    return est.join(exact, ["window_start", "event_type"]).select(
        "window_start",
        "event_type",
        "n_events",
        "n_distinct_users",
        (
            F.abs(F.col("_approx_users") - F.col("n_distinct_users"))
            <= F.lit(STREAM_DISTINCT_REL_BOUND)
            * F.col("n_distinct_users")
            + F.lit(STREAM_DISTINCT_ABS_SLACK)
        ).alias("distinct_within_bound"),
    )


# ---------------------------------------------------------------------------
# Rate-limited backfill with an oracle-encoded watermark-lag trajectory
# ---------------------------------------------------------------------------


def _span_stream(
    spark: SparkSession, src: str, schema: str = "user_id bigint, ts timestamp"
) -> DataFrame:
    """Rate-limited stream over a staged span directory: one span file
    per micro-batch, oldest first (the order
    :func:`stream_stateful.stage_session_spans` pins), ``_STAGED`` and
    other non-parquet markers skipped."""
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .load(src)
    )


def streaming_backfill_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: RATE-LIMITED BACKFILL of the events snapshot —
    the historical-reprocessing shape: replay an accumulated archive
    through the SAME streaming query that handles live data, with
    ``maxFilesPerTrigger=1`` bounding each micro-batch (the knob that
    keeps a 100 TB backfill from loading the whole archive into one
    enormous batch). The output records, per finalized hourly window,
    WHICH micro-batch emitted it and how far the watermark had run
    ahead of the window's end at that moment (``lag_ms``) — the
    emission/lag trajectory an operator watches to size a backfill.

    Reuses the session-timeout entry's span staging as-is
    (``stateful._session_source_dir`` — SESSION_SPAN_FILES time-ordered
    span files with pinned mtimes, so batch order == event-time order);
    the staging cost is shared with that entry.

    The per-batch watermark is taken from the runtime's OWN progress
    telemetry (``StreamingQueryProgress.eventTime.watermark`` — the
    value the batch actually evicted with), not recomputed from the
    data, so the oracle independently cross-checks the engine's whole
    watermark trajectory: wm during batch i = ms-floored max event
    time of batches < i, minus the 1 h delay (probed; matches
    ``EventTimeWatermarkExec``'s ms-floor contract pinned by the
    tumbling-append entry), and a window is emitted by the first batch
    whose watermark reaches its END (``window_end <= wm``). Windows
    the final watermark never reached — the trailing partial hour —
    are withheld, exactly as a live deployment withholds them.

    Scale notes: the aggregation state is O(open windows); each batch
    flushes every window the advancing watermark finalized, so sink
    pressure tracks the backfill RATE knob, not the archive size. The
    driver holds only O(batches) progress rows — never data."""
    src = stream_stateful._session_source_dir(spark, sf_dir)
    return backfill_lag_over(
        src,
        spark,
        state_keys=load_table(spark, sf_dir, "events").select(
            F.date_trunc("hour", "ts").alias("h")
        ),
        state_key_id=(sf_dir, "events", "hour"),
    )


def backfill_lag_over(
    src: str,
    spark: SparkSession,
    state_keys: DataFrame | None = None,
    state_key_id: tuple | None = None,
) -> DataFrame:
    """The backfill runner over ANY staged span directory — split out
    so tests can drive it over synthetic spans (the boundary pin in
    tests/test_round11_operators.py stages events whose window ends
    land EXACTLY on the per-batch watermarks)."""
    out = (
        _span_stream(spark, src)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
        )
    )
    sink = scratch_dir(spark, "backfill_sink_")
    q = drain(
        out,
        batch_writer(sink, "append"),
        state_partitions=state_partitions_for(
            state_keys, cache_key=state_key_id
        ),
    )
    # O(batches) progress rows: the watermark each batch evicted with
    wm_rows = [
        (
            int(p["batchId"]),
            dt.datetime.fromisoformat(
                p["eventTime"]["watermark"].replace("Z", "+00:00")
            ).replace(tzinfo=None),
        )
        for p in q.recentProgress
        if "watermark" in p.get("eventTime", {})
    ]
    # recentProgress is a BOUNDED ring buffer
    # (spark.sql.streaming.numRecentProgressUpdates, default 100): a
    # backfill with more batches than the buffer would silently lose
    # the early epochs' watermarks and the inner join below would drop
    # their emitted windows. Fail loud instead — a deployment that
    # long must raise the buffer or capture progress via a listener.
    emitted_epochs = {
        int(name.split("=", 1)[1])
        for name in os.listdir(sink)
        if name.startswith("epoch=")
    }
    missing = emitted_epochs - {e for e, _ in wm_rows}
    if missing:
        raise RuntimeError(
            f"progress buffer lost watermarks for emitted epochs "
            f"{sorted(missing)}; raise "
            f"spark.sql.streaming.numRecentProgressUpdates above the "
            f"batch count or attach a StreamingQueryListener"
        )
    wm_df = spark.createDataFrame(wm_rows, "epoch int, wm timestamp")
    return (
        spark.read.parquet(sink)
        .join(wm_df, "epoch")
        .select(
            "window_start",
            "n_events",
            F.col("epoch").alias("emitted_in_batch"),
            (F.unix_millis("wm") - F.unix_millis("window_end")).alias(
                "lag_ms"
            ),
        )
    )


# ---------------------------------------------------------------------------
# foreachBatch MERGE-upsert into a versioned keyed latest-table
# ---------------------------------------------------------------------------


def merge_latest(
    cur: DataFrame,
    delta: DataFrame,
    keys: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """MERGE semantics for the per-user latest-table: full-outer on
    the key; counts accumulate, first/last timestamps take the
    null-skipping extremes (Spark's least/greatest ignore NULLs, so
    insert-new-key and update-existing collapse into one expression).
    Pure column algebra — the same transform serves every batch and
    the idempotence test. ``keys`` widens the merge key (the grouped
    retention entry merges on (g, user_id) so the key-group column
    survives the full-outer as a join key, never a NULL-able side
    column)."""
    ks = list(keys)
    c = cur.select(
        *ks,
        F.col("n_events").alias("_cn"),
        F.col("first_ts").alias("_cf"),
        F.col("last_ts").alias("_cl"),
    )
    d = delta.select(
        *ks,
        F.col("n_events").alias("_dn"),
        F.col("first_ts").alias("_df"),
        F.col("last_ts").alias("_dl"),
    )
    return c.join(d, ks, "full_outer").select(
        *ks,
        (
            F.coalesce(F.col("_cn"), F.lit(0))
            + F.coalesce(F.col("_dn"), F.lit(0))
        ).alias("n_events"),
        F.least("_cf", "_df").alias("first_ts"),
        F.greatest("_cl", "_dl").alias("last_ts"),
    )


def streaming_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the foreachBatch MERGE-UPSERT sink recipe — a
    rate-limited stream maintains a queryable KEYED LATEST-TABLE
    (per-user event count + first/last timestamps) in plain parquet,
    with exactly-once delivery by VERSIONED idempotence: batch ``e``
    always reads table version ``e−1`` and overwrites version ``e``,
    so a retried micro-batch (foreachBatch is at-least-once)
    recomputes its own version from the same input instead of
    double-applying its delta. This is the production recipe for
    upserting into sinks with no transactional MERGE (plain parquet/
    object storage); with a lakehouse table the merge body becomes
    one MERGE INTO and the versioning collapses into the table's own
    log.

    Unlike the stateful entries, NO streaming state store is involved:
    the stream is a raw append of rows and the SINK carries all
    accumulated state — the aggregation-outside-the-checkpoint shape
    that lets the serving table be queried, compacted, or re-keyed
    independently of the stream's checkpoint lifecycle.

    Scale: per batch, one map-side-combined delta aggregate (O(keys in
    batch)) and one full-outer merge against the current table — at
    100 TB the merge is an orderly key-partitioned join, and the
    versioned-overwrite becomes partition-scoped (overwrite only the
    key partitions the delta touches). The final table must equal the
    one-shot batch aggregate of the whole archive — exactly what the
    oracle checks.

    Reuses the session span staging (rate-limited multi-batch replay,
    shared cost with the session/backfill entries)."""
    table_root, last = _upsert_drain(spark, sf_dir)
    return spark.read.parquet(f"{table_root}/v={last}")


def _upsert_drain(
    spark: SparkSession, sf_dir: str
) -> tuple[str, int]:
    """The versioned merge-upsert drain over the shared session span
    staging (see :func:`streaming_upsert_latest`)."""
    return _upsert_drain_from(
        spark, stream_stateful._session_source_dir(spark, sf_dir)
    )


def _upsert_drain_from(
    spark: SparkSession, src: str
) -> tuple[str, int]:
    """The versioned merge-upsert drain body over any staged span
    directory; returns ``(table_root, last_version)`` so the
    vacuum/retention entries can run maintenance over fresh version
    histories of their own."""
    table_root = scratch_dir(spark, "upsert_table_")
    empty = spark.createDataFrame(
        [], "user_id bigint, n_events bigint, first_ts timestamp, last_ts timestamp"
    )

    def _merge_batch(batch_df, epoch):
        cur = (
            spark.read.parquet(f"{table_root}/v={epoch - 1}")
            if epoch > 0
            else empty
        )
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        merge_latest(cur, delta).repartition(1).write.mode(
            "overwrite"
        ).parquet(f"{table_root}/v={epoch}")

    drain(_span_stream(spark, src), _merge_batch)
    last = max(
        int(name.split("=", 1)[1])
        for name in os.listdir(table_root)
        if name.startswith("v=")
    )
    return table_root, last


def streaming_upsert_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: VERSION-RETENTION VACUUM over the merge-upsert
    sink — the maintenance member of the upsert lifecycle (the same
    completion the DLQ family got from
    :func:`streaming_dlq_retention`). The versioned-idempotence
    recipe's cost is that every micro-batch leaves a full table
    snapshot behind (``v=0..e`` — time travel for free, unbounded
    storage growth for free too); the vacuum pass deletes every
    version below the retention floor (here: latest-only, the
    lakehouse VACUUM default shape) and audits both sides:
    ``retained`` summarizes the SURVIVING latest table read back from
    disk (count of keys, total merged events, newest timestamp —
    which must still equal the one-shot batch aggregate: delivery
    correctness survived the deletion), ``vacuumed`` counts the
    version snapshots actually removed (a pinned function of the
    span-staging batch count, so the oracle renders it as the same
    literal).

    The pass drains its OWN fresh version history each call (the
    measured ~1.6 s warm drain at 1× sf0.1) rather than sharing a
    session cache: vacuum deletes files, and a deterministic,
    idempotent audit beats saving one drain — a shared tree would
    make the second run report zero deletions.

    Scale: deletion is pure driver/metastore metadata (version dirs),
    the audit is one scan of the LATEST snapshot only; at 100 TB with
    partition-scoped overwrites the vacuum deletes only superseded
    key-partition files, same recipe."""
    table_root, last = _upsert_drain(spark, sf_dir)
    removed = 0
    for name in sorted(os.listdir(table_root)):
        if name.startswith("v=") and int(name.split("=", 1)[1]) < last:
            shutil.rmtree(os.path.join(table_root, name))
            removed += 1
    survivors = [n for n in os.listdir(table_root) if n.startswith("v=")]
    assert survivors == [f"v={last}"], survivors
    latest = spark.read.parquet(f"{table_root}/v={last}")
    retained = latest.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_events").cast("bigint").alias("sum_n_events"),
        F.max("last_ts").alias("max_last_ts"),
    ).select(
        F.lit("retained").alias("disposition"),
        F.lit(1).alias("n_versions"),
        "n_keys",
        "sum_n_events",
        "max_last_ts",
    )
    vacuumed = spark.range(1).select(
        F.lit("vacuumed").alias("disposition"),
        F.lit(removed).alias("n_versions"),
        F.lit(None).cast("bigint").alias("n_keys"),
        F.lit(None).cast("bigint").alias("sum_n_events"),
        F.lit(None).cast("timestamp").alias("max_last_ts"),
    )
    return retained.unionByName(vacuumed)


#: Span-file count for the retention entry's staging: MORE versions
#: than the latest-only vacuum needs, so a keep-last-R window is a
#: real time-travel policy (4 snapshots, keep 2, age 2).
UPSERT_RETENTION_SPANS = 4

#: The retention window: number of trailing version snapshots kept.
UPSERT_KEEP_VERSIONS = 2


def _upsert_retention_source(spark: SparkSession, sf_dir: str) -> str:
    """_STAGED-guarded 4-span staging of (user_id, ts) for the
    retention entry — same helper, same batch-order invariant as
    every other staging (:func:`stream_stateful.stage_session_spans`)."""
    base = os.path.join(
        stream_stateful.WORK_ROOT,
        "streaming",
        os.path.basename(os.path.normpath(sf_dir)),
        f"events_spans{UPSERT_RETENTION_SPANS}",
    )
    done = os.path.join(base, "_STAGED")
    if not os.path.exists(done):
        stream_stateful.stage_session_spans(
            load_table(spark, sf_dir, "events"),
            base,
            cols=("user_id", "ts"),
            n_files=UPSERT_RETENTION_SPANS,
        )
        open(done, "w").close()
    return base


def streaming_upsert_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: TIME-TRAVEL retention over the merge-upsert
    sink — the keep-last-R generalization of
    :func:`streaming_upsert_vacuum`: a 4-batch drain leaves version
    snapshots ``v=0..3``; the policy keeps the trailing
    :data:`UPSERT_KEEP_VERSIONS` (the rollback/debug window a real
    pipeline retains) and ages out the rest. The audit carries ONE
    ROW PER VERSION: retained versions are summarized FROM DISK
    (keys, total merged events, newest timestamp — proving each
    surviving snapshot is intact, not just the latest), vacuumed
    versions by id with NULL contents (they are gone; that is the
    point).

    Oracle-exactness is the interesting part: version ``v``'s table
    is by construction the running aggregate of spans ``0..v``, and
    the span assignment is the staging's own closed form
    (``(unix_micros(ts) − min) // step``, step = range // n + 1 —
    one definition in :func:`stream_stateful.stage_session_spans`,
    mirrored textually by the oracle), so DuckDB replays every
    retained snapshot's contents from the raw events without seeing
    a single sink file.

    Scale: identical to the vacuum entry — deletion is driver
    metadata, the audit scans only the retained snapshots; with
    partition-scoped overwrites the aged versions are key-partition
    files."""
    src = _upsert_retention_source(spark, sf_dir)
    table_root, last = _upsert_drain_from(spark, src)
    keep = set(range(last - UPSERT_KEEP_VERSIONS + 1, last + 1))
    versions = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(table_root)
        if n.startswith("v=")
    )
    parts = []
    for v in versions:
        if v in keep:
            continue
        shutil.rmtree(os.path.join(table_root, f"v={v}"))
        parts.append(
            spark.range(1).select(
                F.lit("vacuumed").alias("disposition"),
                F.lit(v).alias("version"),
                F.lit(None).cast("bigint").alias("n_keys"),
                F.lit(None).cast("bigint").alias("sum_n_events"),
                F.lit(None).cast("timestamp").alias("max_last_ts"),
            )
        )
    survivors = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(table_root)
        if n.startswith("v=")
    )
    assert survivors == sorted(keep), survivors
    for v in survivors:
        snap = spark.read.parquet(f"{table_root}/v={v}")
        parts.append(
            snap.agg(
                F.count(F.lit(1)).alias("n_keys"),
                F.sum("n_events").cast("bigint").alias("sum_n_events"),
                F.max("last_ts").alias("max_last_ts"),
            ).select(
                F.lit("retained").alias("disposition"),
                F.lit(v).alias("version"),
                "n_keys",
                "sum_n_events",
                "max_last_ts",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: Key-group count for the GROUPED (partition-scoped) retention
#: entry: the latest-table is hash-partitioned by ``user_id %
#: UPSERT_KEY_GROUPS`` (user_id is non-negative in the corpus, so
#: ``%`` and pmod agree across engines) and every version snapshot,
#: overwrite, and retention decision is scoped to one key-group
#: partition. 4 groups keeps the test-scale audit readable; at 100 TB
#: the same code runs with thousands of groups (the partition count
#: of the serving table).
UPSERT_KEY_GROUPS = 4


def _grouped_upsert_drain_from(
    spark: SparkSession, src: str, n_groups: int = UPSERT_KEY_GROUPS
) -> tuple[str, int]:
    """The PARTITION-SCOPED versioned merge-upsert drain — the
    at-scale shape :func:`streaming_upsert_vacuum`'s docstring
    describes ("overwrite only the key partitions the delta
    touches"), made concrete: the serving table lives at
    ``root/v=<epoch>/g=<group>`` and batch ``e`` writes ONLY the
    key-group partitions its delta touches — each touched group's new
    snapshot merges the group's delta into that group's LATEST
    EXISTING snapshot (any version < e, not necessarily e−1: an
    untouched group's state simply does not advance). Reconstructing
    "the table as of e" is, per group, the newest version ≤ e that
    wrote the group — the lakehouse time-travel read path over plain
    parquet.

    The touched-group list is a bounded driver collect (≤ n_groups
    rows — the adjudicated bounded-probe idiom); which prior version
    holds each group's state is driver-side directory metadata. Both
    are metastore-shaped costs, never data.

    Returns ``(table_root, last_epoch)``."""
    table_root = scratch_dir(spark, "upsert_grouped_")
    empty = spark.createDataFrame(
        [],
        "g int, user_id bigint, n_events bigint, "
        "first_ts timestamp, last_ts timestamp",
    )

    def _latest_dir_for(g: int, before: int) -> str | None:
        versions = sorted(
            (
                int(n.split("=", 1)[1])
                for n in os.listdir(table_root)
                if n.startswith("v=")
                and os.path.isdir(
                    os.path.join(table_root, n, f"g={g}")
                )
                and int(n.split("=", 1)[1]) < before
            ),
            reverse=True,
        )
        return (
            os.path.join(table_root, f"v={versions[0]}", f"g={g}")
            if versions
            else None
        )

    def _merge_batch(batch_df, epoch):
        # (r15: an eager localCheckpoint of delta was tried here —
        # the touched-group collect and the merge join each execute
        # the span-file agg — and REVERTED: the materialization
        # barrier cost as much as the re-read it saved, A/B medians
        # within noise at sf0.1; the span files are small and
        # page-cached either way.)
        delta = (
            batch_df.withColumn(
                "g", (F.col("user_id") % n_groups).cast("int")
            )
            .groupBy("g", "user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min("ts").alias("first_ts"),
                F.max("ts").alias("last_ts"),
            )
        )
        touched = sorted(
            r[0] for r in delta.select("g").distinct().collect()
        )
        if not touched:
            return  # an empty micro-batch advances no partition
        parts = [empty]
        for g in touched:
            d = _latest_dir_for(g, epoch)
            if d is not None:
                parts.append(
                    spark.read.parquet(d).select(
                        F.lit(g).cast("int").alias("g"),
                        "user_id",
                        "n_events",
                        "first_ts",
                        "last_ts",
                    )
                )
        cur = parts[0]
        for p in parts[1:]:
            cur = cur.unionByName(p)
        # r15 OPTIMIZATION: repartitionByRange SAMPLES its child to
        # pick range boundaries, so without materialization the whole
        # merge subtree (full-outer join + prior-snapshot union)
        # executed TWICE per batch — once for the sampling pass, once
        # for the real shuffle+write. An eager localCheckpoint of the
        # merged frame (the touched groups' keyed snapshots — the
        # exact rows the write is about to materialize anyway) runs
        # the join once; the sampling then reads in-memory rows.
        merged = merge_latest(
            cur, delta, keys=("g", "user_id")
        ).localCheckpoint(eager=True)
        # repartition BY the partition column, not to one task: each
        # touched key group's snapshot is then written by its own
        # task in parallel (same v=<e>/g=<k> file layout — one task
        # per group, partitionBy splits the directories). The former
        # repartition(1) funneled every touched group through a
        # single writer — correct, but the drain's bottleneck once
        # groups number in the thousands (r13 verdict item #7).
        # Range partitioning, not hash: murmur3 collides badly at
        # small group counts (g ∈ {0,1,3} all hash to the same
        # partition mod 4), while contiguous-range bounds give every
        # distinct g its own task whenever groups <= partitions.
        merged.repartitionByRange(n_groups, "g").write.partitionBy(
            "g"
        ).mode("overwrite").parquet(f"{table_root}/v={epoch}")

    drain(_span_stream(spark, src), _merge_batch)
    last = max(
        int(name.split("=", 1)[1])
        for name in os.listdir(table_root)
        if name.startswith("v=")
    )
    return table_root, last


#: The pinned AS-OF version for the time-travel read entry: one
#: version INSIDE the 4-version history (neither first nor last), so
#: the read genuinely resolves per-group latest-<= semantics rather
#: than "newest" or "oldest".
UPSERT_AS_OF_VERSION = UPSERT_RETENTION_SPANS - 2

def streaming_upsert_asof_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the TIME-TRAVEL AS-OF READ over the
    partition-scoped merge-upsert sink — the read path the grouped
    drain exists for (SURVEY §7.10): "the table as of version v" is,
    PER KEY GROUP, that group's newest snapshot at version ≤ v (a
    group untouched by batch v simply serves its older snapshot —
    exactly how a lakehouse reconstructs a partitioned table at a
    historical version from per-partition file logs). Returns the
    reconstructed keyed table itself — ``(g, user_id, n_events,
    first_ts, last_ts)`` as of :data:`UPSERT_AS_OF_VERSION` — so the
    oracle checks every row of the historical state, not a summary.

    Resolving "latest version ≤ v per group" is driver/metastore
    directory metadata; the read scans only the resolved snapshot
    files (one per group), never the history. The drain is session-
    cached (this entry never mutates the tree; the retention sibling
    drains fresh per call because its vacuum deletes).

    Oracle-exactness: group g's snapshot at its latest write ≤ v
    contains, by the merge recursion, exactly the aggregate of spans
    0..v restricted to the group (spans between the group's last
    write and v contributed no rows to it, by definition of "last
    write") — so DuckDB replays the whole historical table as one
    filtered aggregate over the span closed form, sparse or dense
    touching alike."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    return _asof_state(spark, table_root, UPSERT_AS_OF_VERSION)


def _cached_grouped_drain(spark: SparkSession, sf_dir: str) -> str:
    """The partition-scoped drain shared per session by the read-only
    sink entries (as-of read, change feed, compaction audit); the
    retention entry drains fresh per call because its vacuum deletes."""
    return session_cache(
        spark,
        ("grouped_drain", sf_dir),
        lambda: _grouped_upsert_drain_from(
            spark, _upsert_retention_source(spark, sf_dir)
        ),
    )[0]


def _asof_state(
    spark: SparkSession, table_root: str, v: int
) -> DataFrame:
    """The reconstructed keyed table as of version ``v`` over a
    partition-scoped tree: per key group, that group's newest
    snapshot at version ≤ v (directory-metadata resolution, one
    snapshot scan per group)."""
    versions = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(table_root)
        if n.startswith("v=")
    )
    parts = []
    groups = sorted(
        {
            int(sub.split("=", 1)[1])
            for ver in versions
            for sub in os.listdir(os.path.join(table_root, f"v={ver}"))
            if sub.startswith("g=")
        }
    )
    for g in groups:
        best = [
            ver
            for ver in versions
            if ver <= v
            and os.path.isdir(
                os.path.join(table_root, f"v={ver}", f"g={g}")
            )
        ]
        if not best:
            continue  # group born after v — absent from the as-of state
        snap = spark.read.parquet(
            os.path.join(table_root, f"v={best[-1]}", f"g={g}")
        )
        parts.append(
            snap.select(
                F.lit(g).cast("int").alias("g"),
                "user_id",
                F.col("n_events").cast("bigint").alias("n_events"),
                "first_ts",
                "last_ts",
            )
        )
    if not parts:
        # fail with intent: no group had written by version v, so
        # there IS no table at that point in history — an empty-frame
        # fallback would silently conflate "before the first write"
        # with "a table with zero keys"
        raise ValueError(
            f"no snapshot exists at or before version {v} under "
            f"{table_root} — the sink's history starts later"
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def streaming_upsert_changes(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the CDC CHANGE FEED between two versions of
    the partition-scoped merge-upsert sink (SURVEY §7.10) — the
    lakehouse Change Data Feed read path over plain parquet: the
    per-key delta from version v−1 to v, emitted as ``insert`` rows
    (keys born in v) and ``update_preimage`` / ``update_postimage``
    pairs (keys whose aggregates changed), exactly the row protocol
    downstream incremental consumers (sync jobs, streaming
    materialized views) expect. The merge-upsert table never deletes,
    so no ``delete`` rows exist by construction; a key in both states
    with no version-v events is unchanged and is NOT emitted (n_events
    grows monotonically with every touch, so "changed" ≡ "count
    differs" — exact integers, no value comparison of doubles).

    Shape: the two historical states resolve per group by directory
    metadata (:func:`_asof_state` — one snapshot scan per group per
    side, sharing the session-cached drain with the as-of entry),
    then ONE key-partitioned full-outer-free left join (the new state
    is a superset of the old by monotonicity) and a codegen CASE
    exploding 0, 1, or 2 change rows per key. At 100 TB both sides
    are partition-co-located by construction (same key-group layout),
    so the join shuffles nothing that the sink's own partitioning
    hasn't already placed.

    Oracle: DuckDB rebuilds both states from the span closed form
    (state at u == spans 0..u, per group) and diffs them — every
    change row, both images, exactly."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    v = UPSERT_AS_OF_VERSION
    return upsert_changes_between(spark, table_root, v - 1, v)


def upsert_changes_between(
    spark: SparkSession, table_root: str, v0: int, v1: int
) -> DataFrame:
    """The NET-EFFECT change feed between any two versions v0 < v1 of
    a partition-scoped tree — the general CDF read the stepwise entry
    pins at (v−1, v): inserts are keys absent at v0, updates are keys
    whose exact event count differs (count monotonicity — the
    complete change test), and intermediate churn collapses (a key
    inserted after v0 then updated repeatedly reads as ONE insert
    carrying its v1 values; the net feed equals the COMPOSITION of
    the stepwise feeds, pinned in tests). Same one key-co-located
    join + codegen CASE."""
    if not (0 <= v0 < v1):
        raise ValueError(
            f"upsert_changes_between needs 0 <= v0 < v1 (got {v0}, {v1})"
        )
    new = _asof_state(spark, table_root, v1)
    prev = _asof_state(spark, table_root, v0).select(
        "g",
        "user_id",
        F.col("n_events").alias("_pn"),
        F.col("first_ts").alias("_pf"),
        F.col("last_ts").alias("_pl"),
    )
    j = new.join(prev, ["g", "user_id"], "left_outer")
    ins = F.struct(
        F.lit("insert").alias("change_type"),
        F.col("n_events"),
        F.col("first_ts"),
        F.col("last_ts"),
    )
    pre = F.struct(
        F.lit("update_preimage").alias("change_type"),
        F.col("_pn").alias("n_events"),
        F.col("_pf").alias("first_ts"),
        F.col("_pl").alias("last_ts"),
    )
    post = F.struct(
        F.lit("update_postimage").alias("change_type"),
        F.col("n_events"),
        F.col("first_ts"),
        F.col("last_ts"),
    )
    # unchanged keys (no version-v events) explode to zero rows
    empty = F.array().cast(
        "array<struct<change_type:string,n_events:bigint,"
        "first_ts:timestamp,last_ts:timestamp>>"
    )
    rows = (
        F.when(F.col("_pn").isNull(), F.array(ins))
        .when(F.col("n_events") != F.col("_pn"), F.array(pre, post))
        .otherwise(empty)
    )
    return j.select("g", "user_id", F.explode(rows).alias("c")).select(
        "g", "user_id", "c.*"
    )


def streaming_upsert_changes_window(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the NET-EFFECT CDC feed over the WHOLE version
    window (v0 = 0 → v1 = the final version) of the partition-scoped
    sink (SURVEY §7.10) — :func:`upsert_changes_between`'s general
    form exercised at the widest window: keys born after version 0
    read as single inserts carrying their final values (intermediate
    churn collapses — the net feed equals the composition of the
    stepwise feeds, pinned in tests), keys alive at version 0 whose
    counts grew read as one pre/post image pair spanning the whole
    window. Same session-cached drain, same key-co-located join."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    return upsert_changes_between(
        spark, table_root, 0, UPSERT_RETENTION_SPANS - 1
    )


def streaming_upsert_scd2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: TYPE-2 (SCD2) HISTORY built ON the
    partition-scoped merge-upsert sink's version changelog (SURVEY
    §7.12, r14 verdict item #6) — the warehouse dimension-history
    shape (:func:`~inf2106_map_reduce_spark.operators.relational.scd2_history`
    builds it from a batch update stream) derived instead from the
    sink's own CDC change feeds: the per-key validity-interval table
    answering "what was this key's aggregate state AS OF version v?"
    with ``[valid_from, valid_to)`` version intervals and a current
    flag.

    Construction IS the changelog composition: the birth state
    (every key alive at the first version, its interval opening
    there) unioned with each stepwise change feed's ``insert`` /
    ``update_postimage`` rows (:func:`upsert_changes_between` at
    (v−1, v) — exactly the keys whose state changed at v, carrying
    their new values), then ONE window pass per key closes each
    interval at the next change (``valid_to = lead(valid_from)``,
    open-ended ⇒ ``is_current``). No dedupe filter is needed — a CDC
    feed only emits changed keys (n_events grows with every touch),
    which is precisely SCD2's no-change collapse rule enforced at
    the source.

    Scale: this is the IDIOMATIC at-scale SCD2 maintenance path —
    work scales with the CHANGE VOLUME (Σ|feed_v|), not versions ×
    table-size (the naive per-version state-union rebuild); the
    window pass shuffles once on the key, and each feed's join is
    key-group co-located by the sink's own layout. Read-only over
    the session-cached drain.

    Pinned equal to the batch SCD2 of the replayed per-version state
    stream (tests), and oracle-exact: DuckDB rebuilds every
    per-version state from the span closed form, keeps change rows
    by the same count-monotonicity test, and closes intervals with
    the same lead()."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    versions = sorted(
        int(n.split("=", 1)[1])
        for n in os.listdir(table_root)
        if n.startswith("v=")
    )
    cols = ["g", "user_id", "n_events", "first_ts", "last_ts"]
    birth = (
        _asof_state(spark, table_root, versions[0])
        .select(*cols)
        .withColumn("valid_from", F.lit(versions[0]).cast("int"))
    )
    parts = [birth]
    for v0, v1 in zip(versions, versions[1:]):
        feed = upsert_changes_between(spark, table_root, v0, v1)
        parts.append(
            feed.filter(F.col("change_type") != "update_preimage")
            .select(*cols)
            .withColumn("valid_from", F.lit(v1).cast("int"))
        )
    hist = parts[0]
    for p in parts[1:]:
        hist = hist.unionByName(p)
    w = Window.partitionBy("g", "user_id").orderBy("valid_from")
    return hist.select(
        *cols,
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.lead("valid_from").over(w).isNull().alias("is_current"),
    )


#: Fragment count per (group, version) partition for the compaction
#: audit's small-file staging: the drained test tree writes ONE file
#: per partition (each touched group gets its own writer task), so
#: the audit first re-writes each partition as 8 files — the
#: batch-accumulated fragmentation a long-running ingest actually
#: leaves behind — and then compacts. 8 is deliberately SMALLER than
#: most partitions' key counts so files_before stays the pinned
#: LEAST(8, n_keys) closed form the oracle replays.
UPSERT_COMPACT_FRAG = 8

def _compacted_grouped_tree(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list]:
    """The compaction audit's staged tree, shared per session by every
    audit call: the audit rewrites into its own tree and never mutates
    the drained source."""
    return session_cache(
        spark,
        ("compacted_tree", sf_dir),
        lambda: _stage_compacted_tree(spark, sf_dir),
    )


def _stage_compacted_tree(
    spark: SparkSession, sf_dir: str
) -> tuple[str, list]:
    """Stage the small-file compaction of the partition-scoped sink:
    every (version, group) partition of
    the session-cached drained tree is first re-written FRAGMENTED
    (``repartitionByRange(UPSERT_COMPACT_FRAG, "user_id")`` — one
    range per distinct key up to FRAG, so the file count is exactly
    ``min(n_keys, FRAG)``, the closed form the oracle replays), then
    compacted to ``max(1, bytes/128 MB)`` right-sized files under
    the same ``v=<e>/g=<k>`` layout.

    Returns ``(compact_root, [(g, v, files_before, files_after),
    ...])`` — the per-partition file accounting is driver/metastore
    metadata (directory listings), never data. At 100 TB the per-
    partition rewrites are independent jobs a maintenance scheduler
    fans out in parallel; the loop below is the same plan serialized
    at test scale."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    compact_root = scratch_dir(spark, "upsert_compacted_")
    meta = []
    for vname in sorted(os.listdir(table_root)):
        if not vname.startswith("v="):
            continue
        v = int(vname.split("=", 1)[1])
        for gname in sorted(os.listdir(os.path.join(table_root, vname))):
            if not gname.startswith("g="):
                continue
            g = int(gname.split("=", 1)[1])
            snap = spark.read.parquet(
                os.path.join(table_root, vname, gname)
            )
            # range partitioning on the snapshot's unique key gives
            # EXACTLY min(n_keys, FRAG) files (fewer distinct keys
            # than partitions → the range partitioner creates one
            # partition per key; more → all FRAG ranges occupied; no
            # empty partitions ever exist, so no footer-only empty
            # files — measured: round-robin repartition leaves one
            # when output partition 0 lands empty). The bounds sample
            # is exhaustive at key counts near FRAG, so the count is
            # deterministic at every SF.
            frag_dir = tempfile.mkdtemp(prefix="upsert_frag_")
            snap.repartitionByRange(
                UPSERT_COMPACT_FRAG, "user_id"
            ).write.mode("overwrite").parquet(frag_dir)
            frag_files = [
                f for f in os.listdir(frag_dir) if f.endswith(".parquet")
            ]
            frag_bytes = sum(
                os.path.getsize(os.path.join(frag_dir, f))
                for f in frag_files
            )
            n_out = max(1, math.ceil(frag_bytes / COMPACT_TARGET_BYTES))
            # ORACLE CONTRACT (fail at stage time, not oracle-diff
            # time): _grouped_compaction_oracle pins files_after to
            # the literal 1, valid only while every partition's
            # staged bytes stay under COMPACT_TARGET_BYTES. A larger
            # SF silently moves the engine to ceil(bytes/target)
            # while the oracle stays at 1 — surface THAT here, where
            # the message can say what to change.
            if n_out != 1:
                shutil.rmtree(frag_dir, ignore_errors=True)
                raise AssertionError(
                    f"compaction staging: partition v={v}/g={g} holds "
                    f"{frag_bytes} bytes > target {COMPACT_TARGET_BYTES}"
                    f" -> {n_out} output files, but the DuckDB oracle "
                    "(_grouped_compaction_oracle) pins files_after=1; "
                    "teach the oracle the ceil(bytes/target) closed "
                    "form before running this entry at this SF"
                )
            out_dir = os.path.join(compact_root, vname, gname)
            spark.read.parquet(frag_dir).repartition(n_out).write.mode(
                "overwrite"
            ).parquet(out_dir)
            n_after = len(
                [f for f in os.listdir(out_dir) if f.endswith(".parquet")]
            )
            meta.append((g, v, len(frag_files), n_after))
            # frag accounting (frag_files/frag_bytes) is captured and
            # the compacted rewrite is durable — the staging fragments
            # are dead; without this the per-(version, group) temp
            # dirs accumulate for the session lifetime (r14 ADVICE)
            shutil.rmtree(frag_dir, ignore_errors=True)
    return compact_root, meta


def streaming_upsert_compaction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the SMALL-FILE COMPACTION AUDIT over the
    partition-scoped merge-upsert sink (SURVEY §7.10) — the
    :func:`~inf2106_map_reduce_spark.sources.roundtrip.maintenance_compaction`
    recipe composed with the grouped sink's ``v=<e>/g=<k>`` layout,
    the weekly maintenance job every lakehouse table actually runs:
    each (version, group) partition's batch-accumulated small files
    (staged at :data:`UPSERT_COMPACT_FRAG` fragments here) are
    rewritten to right-sized files, and the audit proves the rewrite
    per partition — file counts before/after plus the compacted
    partition's full contents (keys, merged events, newest
    timestamp), every surviving byte accounted for.

    Returns one row per (g, version): ``(g, version, files_before,
    files_after, n_keys, sum_n_events, max_last_ts)``.

    Oracle-exactness: the (g, version) partition matrix and each
    partition's contents replay from the span closed form (the
    grouped-retention argument); ``files_before`` is
    ``LEAST(FRAG, n_keys)`` by the range-partitioned staging (one
    range per distinct key up to FRAG), and ``files_after`` is 1 at
    every test SF (partition bytes ≪ the 128 MB target).

    Scale: file accounting is directory metadata; the audit's data
    cost is ONE basePath scan of the compacted tree (partition-
    pruned, both partition columns projected from paths) joined to a
    broadcast ≤ partitions-row metadata frame. The staging itself is
    per-partition-parallel by construction (independent rewrites)."""
    compact_root, meta = _compacted_grouped_tree(spark, sf_dir)
    meta_df = spark.createDataFrame(
        meta, "g int, version int, files_before bigint, files_after bigint"
    )
    content = (
        spark.read.option("basePath", compact_root)
        .parquet(compact_root)
        .select(
            F.col("g").cast("int").alias("g"),
            F.col("v").cast("int").alias("version"),
            "user_id",
            "n_events",
            "last_ts",
        )
        .groupBy("g", "version")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_events").cast("bigint").alias("sum_n_events"),
            F.max("last_ts").alias("max_last_ts"),
        )
    )
    return content.join(F.broadcast(meta_df), ["g", "version"]).select(
        "g",
        "version",
        "files_before",
        "files_after",
        "n_keys",
        "sum_n_events",
        "max_last_ts",
    )


def streaming_upsert_write_amplification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the WRITE-AMPLIFICATION audit of the
    partition-scoped merge-upsert sink (SURVEY §7.11) — the headline
    metric of any copy-on-write lakehouse layout: per version, how
    many rows the storage layer REWROTE (every touched key group's
    full merged snapshot) versus how many keys the batch actually
    CHANGED (the delta's distinct keys). The ratio is the price of
    copy-on-write reads; partition scoping exists precisely to bound
    it (only touched groups rewrite — an untouched group's state
    costs nothing), and a merge-on-read layout would trade this
    ratio for read-side merge cost.

    Returns one row per version: ``(version, rows_written,
    keys_changed, amplification)`` with the ratio an exact
    BIGINT/BIGINT IEEE division rounded to 9.

    Shape: rows_written is ONE basePath scan of the whole versioned
    tree (both partition columns projected from paths, counts
    map-side combined); keys_changed reads the staged span files
    (the deltas themselves). Read-only — shares the session-cached
    drain with the other read-only sink entries.

    Oracle-exactness: a version's written rows are the touched
    groups' snapshot sizes, replayable from the span closed form
    (the grouped-retention argument); its changed keys are the
    span's distinct users."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    src = _upsert_retention_source(spark, sf_dir)
    written = (
        spark.read.option("basePath", table_root)
        .parquet(table_root)
        .groupBy(F.col("v").cast("int").alias("version"))
        .agg(F.count(F.lit(1)).alias("rows_written"))
    )
    spans = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    parts = [
        spark.read.parquet(os.path.join(src, fname)).select(
            F.lit(v).cast("int").alias("version"), "user_id"
        )
        for v, fname in enumerate(spans)
    ]
    deltas = parts[0]
    for p in parts[1:]:
        deltas = deltas.unionByName(p)
    changed = deltas.groupBy("version").agg(
        F.countDistinct("user_id").alias("keys_changed")
    )
    return written.join(changed, "version").select(
        "version",
        "rows_written",
        "keys_changed",
        F.round(
            F.col("rows_written") / F.col("keys_changed"), 9
        ).alias("amplification"),
    )


def streaming_upsert_changes_midwindow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: the NET-EFFECT CDC feed over a MID-HISTORY
    window (v0 = :data:`UPSERT_AS_OF_VERSION` − 1 > 0 → v1 = the
    final version) of the partition-scoped sink (SURVEY §7.10) — the
    one (v0, v1) class the stepwise and whole-window entries leave
    unexercised: BOTH endpoints resolve per group through the
    latest-≤-v directory walk (the whole-window entry's v0 = 0 side
    is degenerate — every group's state at 0 is its first write or
    absent), and the window spans MULTIPLE batches without reaching
    back to birth, the shape an incremental consumer that fell
    several versions behind actually replays. Same session-cached
    drain, same key-co-located join + codegen CASE; pinned equal to
    the composition of the stepwise feeds over the sub-window in
    tests."""
    table_root = _cached_grouped_drain(spark, sf_dir)
    return upsert_changes_between(
        spark,
        table_root,
        UPSERT_AS_OF_VERSION - 1,
        UPSERT_RETENTION_SPANS - 1,
    )


def streaming_upsert_group_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: GROUPED (per-key-range) time-travel retention
    over the partition-scoped merge-upsert sink — the at-scale
    generalization of :func:`streaming_upsert_retention` (SURVEY
    §7.9): the serving table is hash-partitioned into
    :data:`UPSERT_KEY_GROUPS` key groups, each version snapshot holds
    only the key-group partitions its batch touched, and the
    retention policy runs PER GROUP — each group keeps the trailing
    :data:`UPSERT_KEEP_VERSIONS` versions OF ITS OWN WRITE HISTORY
    (a group untouched by a batch has no snapshot at that version to
    age: retention windows are per-partition, exactly like lakehouse
    VACUUM over a partitioned table). Aged (group, version) partition
    directories are deleted; the audit carries one row per (group,
    version): retained partitions summarized FROM DISK (keys, merged
    events, newest timestamp — each surviving snapshot proven
    intact), vacuumed ones by id with NULL contents.

    Oracle-exactness: group ``g``'s snapshot at version ``v`` is by
    construction the running aggregate of spans ``0..v`` restricted
    to ``user_id % G = g``, a group writes version ``v`` iff span
    ``v`` contains at least one of its rows, and the per-group
    keep-last-R window is a rank over exactly that write set — all
    derivable in SQL from the span-staging closed form
    (``span = (unix_micros(ts) − min) // step``, the single
    definition in :func:`stream_stateful.stage_session_spans`), so
    DuckDB replays every retained partition's contents and BOTH
    retention sets without seeing a sink file, dense or sparse
    touching alike.

    Scale: deletion is driver/metastore metadata (partition dirs);
    the audit scans only retained partitions; per batch the merge
    reads only touched groups' latest snapshots — the partition-
    scoped write amplification a 100 TB serving table requires
    (a full-table rewrite per version is the thing this entry
    retires)."""
    src = _upsert_retention_source(spark, sf_dir)
    # per-group retention derives versions from the directory walk
    # below; the drain's last-epoch return is not needed here
    table_root, _ = _grouped_upsert_drain_from(spark, src)
    wrote: dict[int, list[int]] = {}
    for name in sorted(os.listdir(table_root)):
        if not name.startswith("v="):
            continue
        v = int(name.split("=", 1)[1])
        for sub in os.listdir(os.path.join(table_root, name)):
            if sub.startswith("g="):
                wrote.setdefault(int(sub.split("=", 1)[1]), []).append(v)
    # r15 OPTIMIZATION (guide §6/§2.4): the audit used to union one
    # tiny per-(group, version) subtree per partition — a scan+agg
    # plan PER RETAINED DIR and a spark.range(1) PER VACUUMED ROW,
    # i.e. a plan whose operator count grew with |groups|·|versions|.
    # Deletion stays driver/metastore metadata; the retained audit is
    # now ONE basePath scan of the surviving partition tree (both
    # partition columns projected from paths, counts map-side
    # combined, grouped by (g, version) — the same shape the
    # compaction audit already uses), and the vacuumed ids are one
    # driver-local createDataFrame (bounded by the retention math,
    # never data). Identical rows, order-insensitive.
    vacuumed_ids: list[tuple[int, int]] = []
    for g, versions in sorted(wrote.items()):
        versions = sorted(versions)
        keep = set(versions[-UPSERT_KEEP_VERSIONS:])
        for v in versions:
            if v not in keep:
                shutil.rmtree(
                    os.path.join(table_root, f"v={v}", f"g={g}")
                )
                vacuumed_ids.append((g, v))
    retained = (
        spark.read.option("basePath", table_root)
        .parquet(table_root)
        .groupBy(
            F.col("g").cast("int").alias("g"),
            F.col("v").cast("int").alias("version"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("n_events").cast("bigint").alias("sum_n_events"),
            F.max("last_ts").alias("max_last_ts"),
        )
        .select(
            F.lit("retained").alias("disposition"),
            "g",
            "version",
            "n_keys",
            "sum_n_events",
            "max_last_ts",
        )
    )
    if not vacuumed_ids:
        return retained
    vacuumed = spark.createDataFrame(
        [(g, v) for g, v in vacuumed_ids], "g int, version int"
    ).select(
        F.lit("vacuumed").alias("disposition"),
        "g",
        "version",
        F.lit(None).cast("bigint").alias("n_keys"),
        F.lit(None).cast("bigint").alias("sum_n_events"),
        F.lit(None).cast("timestamp").alias("max_last_ts"),
    )
    return retained.unionByName(vacuumed)


# ---------------------------------------------------------------------------
# foreachBatch dead-letter-queue (DLQ) split sink
# ---------------------------------------------------------------------------

#: Ordered first-match quarantine rules (reason, SQL predicate) — the
#: ONE definition both the foreachBatch router and the oracle's CASE
#: mirror. Rules are content-based (the synthetic events are
#: structurally clean, so "malformed" is a semantic contract here):
#: error-telemetry events don't belong in the analytics stream, and
#: out-of-range values are quarantined for inspection rather than
#: silently aggregated.
DLQ_RULES: tuple[tuple[str, str], ...] = (
    ("error_event", "event_type = 'error'"),
    ("value_out_of_range", "value > 300.0"),
)

#: Span-file count for the DLQ staging. More batches than the stateful
#: entries (which pay ~2 s/batch of state-store machinery) is cheap
#: here — foreachBatch with no state store is just N tiny jobs — and
#: 3 batches exercise the per-epoch idempotent-overwrite layout on a
#: genuinely multi-batch stream.
DLQ_SPAN_FILES = 3


def dlq_reason() -> F.Column:
    """First-matching-rule reason column (NULL = routed to the good
    sink), folded from :data:`DLQ_RULES` so router and oracle cannot
    diverge."""
    reason = F.lit(None).cast("string")
    for name, pred in reversed(DLQ_RULES):
        reason = F.when(F.expr(pred), F.lit(name)).otherwise(reason)
    return reason


def _dlq_source_dir(spark: SparkSession, sf_dir: str) -> str:
    """_STAGED-guarded staging of the FULL event row (the session/
    backfill stagings carry only user_id+ts) into DLQ_SPAN_FILES
    time-span files — same batch-order invariant, same helper
    (:func:`stream_stateful.stage_session_spans`)."""
    base = os.path.join(
        stream_stateful.WORK_ROOT,
        "streaming",
        os.path.basename(os.path.normpath(sf_dir)),
        f"events_dlq{DLQ_SPAN_FILES}",
    )
    done = os.path.join(base, "_STAGED")
    if not os.path.exists(done):
        stream_stateful.stage_session_spans(
            load_table(spark, sf_dir, "events"),
            base,
            cols=("event_id", "ts", "user_id", "event_type", "value"),
            n_files=DLQ_SPAN_FILES,
        )
        open(done, "w").close()
    return base


#: Corrected rule table for the REDRIVE pass: triage found the value
#: cap was a false positive (out-of-range values are legitimate), so
#: only the error-telemetry rule survives — quarantined rows are
#: re-evaluated under THIS table and the cleared ones rejoin the good
#: data. Same single-definition contract as DLQ_RULES.
REDRIVE_RULES: tuple[tuple[str, str], ...] = (
    ("error_event", "event_type = 'error'"),
)


def redrive_reason() -> F.Column:
    """First-matching corrected-rule reason (NULL = cleared, rejoins
    the good sink), folded from :data:`REDRIVE_RULES`."""
    reason = F.lit(None).cast("string")
    for name, pred in reversed(REDRIVE_RULES):
        reason = F.when(F.expr(pred), F.lit(name)).otherwise(reason)
    return reason


def route_batch(
    batch_df, epoch: int, good_root: str, bad_root: str, reason
) -> None:
    """Route ONE micro-batch by a first-match reason column into
    epoch-scoped good/quarantine partition directories — overwrite
    mode makes an at-least-once retry rewrite its own partition
    instead of doubling it. The single router body behind the split
    sink, the redrive pass, and the idempotence pin (an incoming
    ``reason`` column from a previous pass is replaced)."""
    tagged = batch_df.drop("reason").withColumn("reason", reason)
    tagged.filter(F.col("reason").isNull()).drop("reason").write.mode(
        "overwrite"
    ).parquet(f"{good_root}/epoch={epoch}")
    tagged.filter(F.col("reason").isNotNull()).write.mode(
        "overwrite"
    ).parquet(f"{bad_root}/epoch={epoch}")


def _dlq_sink_roots(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(good_root, dlq_root) of the DLQ split run, shared per session by
    the split, redrive and retention entries: they all read ONE
    quarantine."""
    return session_cache(
        spark, ("dlq_roots", sf_dir), lambda: _run_dlq_split(spark, sf_dir)
    )


def _run_dlq_split(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Drain the DLQ split stream into fresh good/quarantine sinks."""
    src = _dlq_source_dir(spark, sf_dir)
    good_root = scratch_dir(spark, "dlq_good_")
    dlq_root = scratch_dir(spark, "dlq_bad_")

    def _route_batch(batch_df, epoch):
        route_batch(batch_df, epoch, good_root, dlq_root, dlq_reason())

    drain(_span_stream(spark, src, _DLQ_EVENT_SCHEMA), _route_batch)
    return good_root, dlq_root


#: The event schema as written by the DLQ good-side sinks; quarantine
#: sinks carry it plus the attached ``reason``.
_DLQ_EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double"
)

#: Target output-file size for the retention pass's compaction
#: rewrite. 128 MB = the classic parquet scan-split sweet spot (one
#: file ≈ one task at default maxPartitionBytes); the test-scale
#: quarantine is far below one target, so the rewrite lands in a
#: single file — pinned in tests.
COMPACT_TARGET_BYTES = 128 * 1024 * 1024


def _dlq_summary(
    spark, root: str, disposition: str, reason: F.Column, *,
    with_reason_col: bool = False,
):
    """(disposition, reason, event_type, n_rows, n_users,
    sum_event_id) audit rows over one sink tree — the shape both DLQ
    entries and their oracles emit. The read pins the explicit sink
    schema (``with_reason_col`` for quarantine trees, which carry the
    attached reason) so a sink left with zero part files — e.g. a
    redrive whose corrected rules clear every quarantined row, leaving
    only ``_SUCCESS`` markers — yields an EMPTY summary instead of an
    opaque schema-inference error."""
    schema = _DLQ_EVENT_SCHEMA + (
        ", reason string" if with_reason_col else ""
    )
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(root)
        .groupBy(reason.alias("reason"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        .select(
            F.lit(disposition).alias("disposition"),
            "reason",
            "event_type",
            "n_rows",
            "n_users",
            "sum_event_id",
        )
    )


def streaming_dlq_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the foreachBatch DEAD-LETTER-QUEUE recipe — the
    error-handling member of the sink family. Each micro-batch is
    routed by the ordered :data:`DLQ_RULES`: rows matching a rule land
    in the DLQ sink WITH their quarantine reason attached (so the
    queue is triage-able, not a bit bucket), clean rows land in the
    good sink; both writes are scoped to ``epoch=<batch>`` directories
    with ``overwrite`` mode, so a retried micro-batch (foreachBatch is
    at-least-once) rewrites its own partition instead of doubling it —
    the same versioned-idempotence contract as
    :func:`streaming_upsert_latest`, partition-scoped instead of
    table-versioned because the split is per-row (no cross-batch
    merge).

    Scale: the router is one codegen'd CASE over each batch — no
    state store, no shuffle; at 100 TB the good/DLQ writes are the
    stream's own parallelism and the quarantine share (~20% here, by
    synthetic construction) prunes downstream compute at the earliest
    possible point. The returned audit summary — per (disposition,
    reason, event_type): row count, distinct users, event-id checksum
    — is what a pipeline alerts on, and the oracle replays it as a
    one-shot batch CASE split over the same snapshot: the streaming
    plumbing must route every row exactly once to match."""
    good_root, dlq_root = _dlq_sink_roots(spark, sf_dir)
    return _dlq_summary(spark, good_root, "good", F.lit("ok")).unionByName(
        _dlq_summary(
            spark, dlq_root, "dlq", F.col("reason"), with_reason_col=True
        )
    )


def streaming_dlq_redrive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the DLQ REDRIVE pass — the lifecycle step that
    makes a dead-letter queue operationally useful: after triage
    corrects the rule table (:data:`REDRIVE_RULES` drops the
    false-positive value cap), the quarantine itself is re-ingested as
    a stream (``recursiveFileLookup`` over the epoch-scoped sink tree,
    rate-limited like the original) and re-routed: cleared rows land
    in a redriven-good sink, rows the corrected rules still reject
    stay dead-lettered — same epoch-scoped idempotent-overwrite
    contract as the first pass.

    The oracle replays the composition batch-wise: first-pass CASE to
    isolate the quarantine, corrected CASE over it — the two-pass
    streaming plumbing must route every quarantined row exactly once
    to match."""
    _, dlq_root = _dlq_sink_roots(spark, sf_dir)
    re_good = scratch_dir(spark, "dlq_regood_")
    still = scratch_dir(spark, "dlq_still_")
    stream = (
        spark.readStream.schema(_DLQ_EVENT_SCHEMA + ", reason string")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(dlq_root)
    )

    def _reroute_batch(batch_df, epoch):
        route_batch(batch_df, epoch, re_good, still, redrive_reason())

    drain(stream, _reroute_batch)
    return _dlq_summary(
        spark, re_good, "redriven_good", F.lit("ok")
    ).unionByName(
        _dlq_summary(
            spark, still, "still_dlq", F.col("reason"),
            with_reason_col=True,
        )
    )


def streaming_dlq_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the DLQ RETENTION/COMPACTION pass — the
    maintenance member of the DLQ lifecycle (split → redrive →
    retention). A redrive resolves part of the quarantine, but the
    queue TREE still holds every epoch-scoped fragment: resolved rows
    wait to be aged out, unresolved rows sit in per-epoch small files
    that grow with (batches × partitions) — the #1 operational failure
    of long-running ingest (see
    :func:`sources.roundtrip.maintenance_compaction`). This pass runs
    the standard snapshot-compaction recipe as a BATCH maintenance job
    over the sink tree: read the quarantine, age out rows the
    corrected :data:`REDRIVE_RULES` clear (they were redriven — their
    audit rows carry the ORIGINAL quarantine reason, i.e. which rule
    was the false positive), rewrite the surviving rows as the
    next-generation queue — compacted to right-sized files, reason
    re-attached from the corrected rules — then atomically swap trees
    (here the source tree is kept because two sibling registry entries
    share the session-cached quarantine; the swap is a rename the
    audit cannot see).

    Scale: one scan of the quarantine (a ~20% slice of ingest by
    construction), one codegen CASE, one compacted write sized by
    ``bytes / COMPACT_TARGET_BYTES`` — no state store, no shuffle
    beyond the write's repartition. The retained summary reads the
    COMPACTED tree back, so the audit proves the rewrite, not the
    intent; conservation (aged + retained == quarantine) is pinned in
    tests, and the oracle replays the composition batch-wise."""
    _, dlq_root = _dlq_sink_roots(spark, sf_dir)
    summary, _ = dlq_retention_pass(spark, dlq_root)
    return summary


#: Age-policy knob for the epoch-age retention entry: an epoch ages
#: out when its NEWEST event is older than the watermark minus
#: AGE_NUM/AGE_DEN of the quarantine's observed time range. 1/2 is a
#: data-relative cutoff (the staging's span width varies with the
#: corpus), and the arithmetic is pure BIGINT microseconds — floor
#: division of non-negative integers, bit-identical across engines.
DLQ_AGE_NUM = 1
DLQ_AGE_DEN = 2


def streaming_dlq_age_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: DLQ retention with an EPOCH-AGE policy (SURVEY
    §7.9) — the time-based complement of
    :func:`streaming_dlq_retention`'s rule-outcome policy: a real
    quarantine ages out WHOLE INGEST EPOCHS once they fall behind the
    stream's watermark (rows nobody re-triaged in time are dead, not
    pending), regardless of what the current rule table would say.
    The policy: an epoch is aged out iff its newest event timestamp
    is older than ``watermark − (range · AGE_NUM/AGE_DEN)``, where
    the watermark is the quarantine's global max event time and
    range its observed time span — the same progress telemetry
    `streaming_backfill_lag` reports per batch, consumed here as a
    retention cutoff. All cutoff arithmetic is BIGINT microseconds
    (floor division), so the oracle replays it exactly.

    Distributed shape — NOTHING here is a driver decision: the
    epoch-scoped sink tree reads back with ``epoch`` as a partition
    column; the (≤ epochs)-row per-epoch max-timestamp frame joins
    the 1-row bounds frame (broadcast crossJoin — the pagerank-scalar
    idiom) into a per-epoch disposition, which joins back to the
    rows by epoch (broadcast). Aged rows reduce to the audit
    directly; retained epochs are rewritten as the next-generation
    queue — compacted to ``bytes / 128 MB`` files with epoch
    preserved as a data column — and summarized FROM the compacted
    tree, proving the rewrite. The source tree is kept (the three
    sibling DLQ entries share the session-cached quarantine; the
    swap is a rename the audit cannot see, as in the rule-outcome
    entry).

    Returns one row per (disposition, epoch, reason, event_type)
    with counts, distinct users, and the event-id checksum — the
    quarantine conserved: aged + retained == the whole queue, pinned
    in tests."""
    _, dlq_root = _dlq_sink_roots(spark, sf_dir)
    summary, _ = dlq_age_retention_pass(spark, dlq_root)
    return summary


def dlq_age_retention_pass(
    spark: SparkSession, dlq_root: str
) -> tuple[DataFrame, str]:
    """The epoch-age retention body over one quarantine tree; returns
    ``(audit_summary, compacted_root)`` — the root surfaced so tests
    can pin the rewrite itself (file count, exact retained rows), the
    :func:`dlq_retention_pass` contract. The global-cutoff
    specialization of :func:`_dlq_grouped_age_retention_pass` at
    whole-epoch granularity."""
    return _dlq_grouped_age_retention_pass(
        spark,
        dlq_root,
        group_cols=("epoch",),
        cutoff=F.expr(
            f"_wm - ((_wm - _lo) * {DLQ_AGE_NUM}) DIV {DLQ_AGE_DEN}"
        ),
        prefix="dlq_age_retained_",
    )


def _dlq_grouped_age_retention_pass(
    spark: SparkSession,
    dlq_root: str,
    group_cols: tuple[str, ...],
    cutoff: F.Column,
    prefix: str,
) -> tuple[DataFrame, str]:
    """Shared age-retention body (r13 ADVICE: the age and policy
    passes were ~80 duplicated lines differing only here): a
    ``group_cols`` group of the quarantine ages out iff its newest
    event timestamp falls below ``cutoff``, an expression over the
    tree's global bounds ``(_lo, _wm)`` — plus the group columns
    themselves for per-group policies. Dispositions are a broadcast
    (≤ groups)-row join computed lazily from the tree's own bounds;
    retained rows are rewritten compacted (``bytes / 128 MB`` files)
    and summarized FROM the compacted tree, proving the rewrite; the
    source tree is kept (the DLQ siblings share the session-cached
    quarantine)."""
    q = (
        spark.read.schema(_DLQ_EVENT_SCHEMA + ", reason string")
        .option("basePath", dlq_root)
        .parquet(dlq_root)
        .withColumn("epoch", F.col("epoch").cast("int"))
        .withColumn("_us", F.unix_micros("ts"))
    )
    bounds = q.agg(
        F.min("_us").alias("_lo"), F.max("_us").alias("_wm")
    )
    disposition = (
        q.groupBy(*group_cols)
        .agg(F.max("_us").alias("_gmax"))
        .crossJoin(F.broadcast(bounds))
        .select(
            *group_cols,
            F.when(F.col("_gmax") < cutoff, F.lit("aged_out"))
            .otherwise(F.lit("retained"))
            .alias("disposition"),
        )
    )
    tagged = q.join(
        F.broadcast(disposition), list(group_cols)
    ).localCheckpoint(eager=True)
    aged = tagged.filter(F.col("disposition") == "aged_out")
    retained = tagged.filter(F.col("disposition") == "retained").drop(
        "disposition", "_us"
    )
    tree_bytes = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(dlq_root)
        for f in files
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(tree_bytes / COMPACT_TARGET_BYTES))
    compact_root = scratch_dir(spark, prefix)
    retained.repartition(n_out).write.mode("overwrite").parquet(
        compact_root
    )

    def _summ(df, disposition_col):
        return df.groupBy("epoch", "reason", "event_type").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        ).select(
            disposition_col.alias("disposition"),
            "epoch",
            "reason",
            "event_type",
            "n_rows",
            "n_users",
            "sum_event_id",
        )

    kept = spark.read.schema(
        _DLQ_EVENT_SCHEMA + ", reason string, epoch int"
    ).parquet(compact_root)
    return (
        _summ(aged, F.lit("aged_out")).unionByName(
            _summ(kept, F.lit("retained"))
        ),
        compact_root,
    )


#: Per-reason age policy for the POLICY retention entry: (reason,
#: age numerator, age denominator) — a (epoch, reason) group ages out
#: once its newest event is older than ``watermark − range·num/den``.
#: Error telemetry is short-lived (ages at 1/4 of the range);
#: out-of-range values are kept longer for inspection (3/4). Reasons
#: outside the table fall back to the global DLQ_AGE_NUM/DLQ_AGE_DEN.
#: ONE definition — the router column and the oracle CASE both fold
#: from this tuple, like DLQ_RULES.
DLQ_AGE_POLICY: tuple[tuple[str, int, int], ...] = (
    ("error_event", 1, 4),
    ("value_out_of_range", 3, 4),
)


def _policy_cutoff_expr() -> F.Column:
    """The per-reason cutoff (BIGINT microseconds) folded from
    :data:`DLQ_AGE_POLICY` over ``(_wm, _lo, reason)`` columns —
    mirrored textually by the oracle's CASE."""
    cutoff = F.expr(
        f"_wm - ((_wm - _lo) * {DLQ_AGE_NUM}) DIV {DLQ_AGE_DEN}"
    )
    for reason, num, den in reversed(DLQ_AGE_POLICY):
        cutoff = F.when(
            F.col("reason") == reason,
            F.expr(f"_wm - ((_wm - _lo) * {num}) DIV {den}"),
        ).otherwise(cutoff)
    return cutoff


def streaming_dlq_policy_retention(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: DLQ retention under a PER-REASON age policy
    (SURVEY §7.10) — the policy-table generalization of
    :func:`streaming_dlq_age_retention`: each quarantine reason gets
    its own maximum age (:data:`DLQ_AGE_POLICY` — short-lived error
    telemetry ages at 1/4 of the observed range, out-of-range values
    are kept 3× longer for inspection), and the ageing granularity
    refines from whole epochs to (epoch, reason) groups — the same
    groups the quarantine audit alerts on. Everything else keeps the
    age entry's shape: dispositions are a broadcast (≤ epochs ×
    reasons)-row join computed lazily from the tree's own bounds (no
    driver decision), retained groups are rewritten compacted and
    summarized FROM the compacted tree, the source tree is kept (the
    DLQ siblings share the session-cached quarantine), and all
    cutoff arithmetic is BIGINT microseconds so the oracle replays
    it exactly. Conservation (aged + retained == quarantine) pinned
    in tests."""
    _, dlq_root = _dlq_sink_roots(spark, sf_dir)
    summary, _ = dlq_policy_retention_pass(spark, dlq_root)
    return summary


def dlq_policy_retention_pass(
    spark: SparkSession, dlq_root: str
) -> tuple[DataFrame, str]:
    """The per-reason age retention body over one quarantine tree;
    returns ``(audit_summary, compacted_root)`` — the
    :func:`dlq_retention_pass` contract. The per-reason-cutoff
    specialization of :func:`_dlq_grouped_age_retention_pass` at
    (epoch, reason) granularity."""
    return _dlq_grouped_age_retention_pass(
        spark,
        dlq_root,
        group_cols=("epoch", "reason"),
        cutoff=_policy_cutoff_expr(),
        prefix="dlq_policy_retained_",
    )


def dlq_retention_pass(
    spark: SparkSession, dlq_root: str
) -> tuple[DataFrame, str]:
    """The retention/compaction body over one quarantine tree; returns
    ``(audit_summary, compacted_root)`` — the root surfaced so tests
    can pin the rewrite itself (file count, exact retained rows)."""
    quarantine = (
        spark.read.schema(_DLQ_EVENT_SCHEMA + ", reason string")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(dlq_root)
    )
    split = quarantine.withColumn("r2", redrive_reason()).localCheckpoint(
        eager=True
    )
    aged = split.filter(F.col("r2").isNull())
    retained = (
        split.filter(F.col("r2").isNotNull())
        .drop("reason")
        .withColumnRenamed("r2", "reason")
    )
    # right-size the rewrite from the source tree's actual bytes (the
    # maintenance_compaction sizing rule, computed instead of pinned:
    # file listing is driver-side metadata, never data)
    tree_bytes = sum(
        os.path.getsize(os.path.join(dirpath, f))
        for dirpath, _, files in os.walk(dlq_root)
        for f in files
        if f.endswith(".parquet")
    )
    n_out = max(1, math.ceil(tree_bytes / COMPACT_TARGET_BYTES))
    compact_root = scratch_dir(spark, "dlq_retained_")
    retained.repartition(n_out).write.mode("overwrite").parquet(
        compact_root
    )
    return (
        aged.groupBy(F.col("reason"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
        )
        .select(
            F.lit("aged_out").alias("disposition"),
            "reason",
            "event_type",
            "n_rows",
            "n_users",
            "sum_event_id",
        )
        .unionByName(
            _dlq_summary(
                spark, compact_root, "retained", F.col("reason"),
                with_reason_col=True,
            )
        )
    ), compact_root
