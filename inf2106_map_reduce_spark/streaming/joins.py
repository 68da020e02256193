"""Stream-stream joins over events: watermarked, time-bounded
attribution (clicks joined to subsequent purchases).

The reference is strictly batch (SURVEY.md §2.5); this completes the
Structured Streaming join surface alongside the stream-static join in
:mod:`windows`. Both input streams carry watermarks and the join
condition bounds event time on both sides — that pair of constraints
is what lets Spark EVICT join state: a buffered click can be dropped
once the purchase-side watermark passes click.ts + horizon, and vice
versa. Without the time bound, stream-stream state grows without limit
— unusable on an unbounded stream.

Executed via Trigger.AvailableNow over the parquet events table, the
single batch sees all data, so the emitted matches equal the batch
join — which is exactly what the DuckDB oracle checks.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.streaming.runtime import (
    batch_writer,
    drain,
    state_partitions_for,
)
from inf2106_map_reduce_spark.tables import event_stream, load_table

ATTRIBUTION_HORIZON = "1 hour"


def click_purchase_pairs(
    clicks: DataFrame, purchases: DataFrame, how: str = "inner"
) -> DataFrame:
    """All (click, purchase) pairs per user where the purchase lands
    within the attribution horizon AFTER the click. Works on batch or
    streaming inputs — the streaming binding just adds watermarks.
    ``how="left_outer"`` additionally keeps unattributed clicks with a
    NULL purchase; on a stream those rows emit only once the
    purchase-side watermark proves no match can still arrive.
    ``how="full_outer"`` also keeps unattributed purchases (NULL
    click), null-extended once the CLICK-side watermark passes their
    event time; the user key is coalesced across sides so every row
    carries it."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {ATTRIBUTION_HORIZON}")
        ),
        how,
    )
    user = (
        # full outer: unmatched purchases carry a NULL click side, so
        # the user key must come from whichever side is present (for
        # inner/left_outer c_user is never null — the plans there are
        # untouched)
        F.coalesce(F.col("c_user"), F.col("p_user"))
        if how == "full_outer"
        else F.col("c_user")
    )
    return joined.select(
        user.alias("user_id"), "click_id", "purchase_id"
    )


def streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: stream-stream inner join — the clicks STREAM
    joined to the purchases STREAM on user within a 1-hour event-time
    window, both sides watermarked (state eviction on both buffers).
    Append-mode matches through a foreachBatch parquet sink; oracle is
    the equivalent batch join."""
    return _attribution_drain(spark, sf_dir, how="inner")


def streaming_click_attribution_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: LEFT OUTER stream-stream join — attributed
    clicks emit on match arrival (the inner part), and UNATTRIBUTED
    clicks emit null-extended only once the purchase watermark proves
    no match can still arrive. Under the AvailableNow drain the final
    watermark is ``max(event ts) − horizon``, so a click is provably
    matchless only when ``click_ts + horizon < max_ts − horizon`` —
    clicks in the stream's last 2×horizon stay buffered and are
    correctly ABSENT from the output. The oracle mirrors exactly that
    cutoff (matched pairs ∪ unmatched clicks older than the final
    watermark minus the horizon), so the streaming-specific semantics
    — not just the batch join — are hash-checked. Requires the
    trailing no-data micro-batch (runtime.needs_no_data_batch detects
    the outer-join shape structurally)."""
    return _attribution_drain(spark, sf_dir, how="left_outer")


def streaming_click_attribution_full(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registry query: FULL OUTER stream-stream join (SURVEY §7.11) —
    the one join type the streaming matrix still lacked. Matched
    pairs emit on arrival (the inner part); unattributed CLICKS
    null-extend once the purchase watermark proves no match can still
    arrive (the LEFT OUTER semantics,
    :func:`streaming_click_attribution_outer`); unattributed
    PURCHASES null-extend once the CLICK-side watermark passes their
    event time — a click matching purchase ``p`` must have
    ``click_ts ∈ [p.ts − horizon, p.ts]``, so once the watermark
    exceeds ``p.ts`` no qualifying click can arrive and the purchase
    is provably matchless. Under the AvailableNow drain the final
    watermark is ``least(max click ts, max purchase ts) − horizon``
    (the global watermark is the min across both filtered inputs), so
    the oracle's two null-side cutoffs are ``click_ts < wm − horizon``
    and ``purchase_ts < wm`` — BOTH eviction semantics are
    hash-checked, not just the batch join. Rows inside the trailing
    uncertainty window stay buffered and are correctly absent.
    Requires the trailing no-data micro-batch
    (runtime.needs_no_data_batch matches ``Join FullOuter``
    structurally)."""
    return _attribution_drain(spark, sf_dir, how="full_outer")


def _attribution_drain(
    spark: SparkSession, sf_dir: str, how: str
) -> DataFrame:
    def _stream() -> DataFrame:
        return event_stream(spark, sf_dir).withWatermark(
            "ts", ATTRIBUTION_HORIZON
        )

    clicks = _stream().filter(F.col("event_type") == "click")
    purchases = _stream().filter(F.col("event_type") == "purchase")
    out = click_purchase_pairs(clicks, purchases, how=how)

    sink = tempfile.mkdtemp(prefix="stream_sink_")
    # A stream-stream join keeps FOUR state stores per partition — the
    # per-partition maintenance cost is the whole game here (7.6 s at
    # 32 partitions vs 2.4 s at 8 on identical sf0.1 input); see the
    # runtime module docstring for the sizing rule.
    drain(
        out,
        batch_writer(sink, "append"),
        # state = both join buffers keyed by user_id → user cardinality
        # (from the batch view) sizes the partitions
        state_partitions=state_partitions_for(
            load_table(spark, sf_dir, "events").select("user_id"),
            cache_key=(sf_dir, "events", "user_id"),
        ),
    )
    return spark.read.parquet(sink).drop("epoch")
