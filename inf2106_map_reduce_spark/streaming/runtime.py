"""Streaming runtime shared by every stream runner: the one
AvailableNow drain (:func:`drain`), its parquet sink writer
(:func:`batch_writer`), and the state partition sizing rule.

A Structured Streaming query's STATE partition count is pinned into
the checkpoint by ``spark.sql.shuffle.partitions`` at first start —
and every state partition carries fixed per-micro-batch maintenance
cost (delta files, snapshot compaction, provider instances; a
stream-stream join keeps four stores per partition). That cost tracks
the partition COUNT, not the data: measured here, the click-attribution
join runs 7.6 s at 32 partitions vs 2.4 s at 8 vs ~1.9 s at 4 on the
same sf0.1 input (and every stateful query in the registry improves
8 -> 4: user-stats 3.1 -> 1.5 s, session windows 1.8 -> 1.3 s — the
~10k keys in flight at this SF don't amortize 8 partitions' upkeep).

So unlike batch shuffles (where AQE coalesces small partitions for
free), streaming state partitioning must be sized to the expected
STATE size — keys in flight, not batch CPUs. The local harness keeps
it small; a 100 TB deployment raises ``SPARK_GRAFT_STATE_PARTITIONS``
to spread state across executors (it cannot be changed later without a
new checkpoint, so err high for long-lived production streams).
"""

from __future__ import annotations

import math
import os
import re
import shutil
import tempfile
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from inf2106_map_reduce_spark.session import session_cache

#: Fallback when no key sample is supplied: 4 is sized to the BENCH
#: scale factor (sf0.1, ~10k keys in flight) — NOT a universal
#: constant. Preferred path: :func:`state_partitions_for` derives the
#: count from the DATA (approx-distinct of the state keys on a batch
#: view of the source), so sizing tracks the corpus instead of a
#: hand-pinned number; ``SPARK_GRAFT_STATE_PARTITIONS`` overrides both
#: there.
STATE_PARTITIONS = 4

#: Sizing rule: ~100k keys in flight per state partition (each
#: partition carries fixed per-micro-batch maintenance cost — delta
#: files, snapshot compaction, provider instances — so the count must
#: track STATE size, not batch CPUs; see module docstring
#: measurements). Floor 4 keeps small/local corpora at the measured
#: local sweet spot; cap 1024 bounds runaway estimates (a deployment
#: expecting >100M keys in flight sets the env override and errs
#: high — the value freezes into the checkpoint at first start).
STATE_KEYS_PER_PARTITION = 100_000
STATE_PARTITIONS_FLOOR = 4
STATE_PARTITIONS_CAP = 1024

#: Partitioning rule for PYTHON-state operators
#: (applyInPandasWithState): unlike the JVM stateful operators the
#: 100k rule sizes, every GROUP here pays a per-group Arrow/pandas
#: round-trip through the Python worker (~0.5-1 ms each), so the
#: per-batch cost is ≈ a·P (per-partition state-store maintenance:
#: provider instances, delta files, commits) + b·keys/P (serial
#: per-group Python time per task). Minimizing gives the balance
#: point P* = sqrt(keys·b/a); b/a was fit on two measured rungs of
#: streaming_session_timeout (same-session medians, r16):
#: sf0.1 / 1,400 keys — P=4: 7.7 s (8.27 s in the adoption A/B),
#: P=8: 6.0 s, P=32: 6.7 s; 32× rung / ~45k keys — P=16: 59.8 s,
#: P=64: 42.7 s, P=224: 67–128 s. ``ceil(sqrt(keys/16))`` lands at 10
#: and 53, inside the measured optimum's shallow basin on both rungs,
#: and keeps tracking the DATA, never the local core count. Floor/cap
#: and the env override apply unchanged.
PY_STATE_KEYS_PER_SQ = 16


def state_partitions_for(
    source_keys: DataFrame | None,
    cache_key: tuple | None = None,
    py_state: bool = False,
) -> int:
    """Derive the state partition count from the data: one
    ``approx_count_distinct`` over a BATCH view of the state key
    columns (a cheap column-pruned scan, run once before the stream
    starts), then ``clamp(ceil(keys / 100k), 4, 1024)`` for JVM
    stateful operators, or the sqrt balance point
    ``clamp(ceil(sqrt(keys / PY_STATE_KEYS_PER_SQ)), 4, 1024)`` for
    Python-state operators (``py_state=True`` — see
    :data:`PY_STATE_KEYS_PER_SQ` for the model and measurements).

    ``SPARK_GRAFT_STATE_PARTITIONS`` still wins when set (a deployment
    that knows its steady-state cardinality errs high explicitly);
    passing ``None`` falls back to the same default. ``cache_key``
    (e.g. ``(sf_dir, table, cols...)``) shares the estimate among
    repeated drains of the same source within a session (the raw
    key-count estimate is shared, so callers with different rules
    share one scan); calls without one always measure."""
    env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env:
        return int(env)
    if source_keys is None:
        return STATE_PARTITIONS

    def estimate() -> int:
        return source_keys.agg(
            F.approx_count_distinct(
                F.struct(*[F.col(c) for c in source_keys.columns])
            ).alias("k")
        ).collect()[0]["k"]

    n_keys = (
        estimate()
        if cache_key is None
        else session_cache(
            source_keys.sparkSession, ("state_keys", cache_key), estimate
        )
    )
    if py_state:
        n = math.ceil(math.sqrt(n_keys / PY_STATE_KEYS_PER_SQ))
    else:
        n = math.ceil(n_keys / STATE_KEYS_PER_PARTITION)
    return max(STATE_PARTITIONS_FLOOR, min(STATE_PARTITIONS_CAP, n))


# AvailableNow queries drain one data batch and stop; the trailing
# NO-DATA micro-batch Spark schedules to advance the watermark exists
# to EVICT state — state a terminating query discards anyway. Every
# query in this package emits its results in the data batch itself
# (complete-mode window aggs re-emit everything; the inner
# stream-stream join, dropDuplicatesWithinWatermark and
# NoTimeout/update applyInPandasWithState all emit on arrival), so
# the extra batch is a pure fixed cost here (~0.1-0.5 s/query
# measured), and a stateful :func:`drain` turns it off. CONTINUOUS
# deployments must leave it on — watermark advancement during idle
# periods is what bounds their state — but every query in this
# package is an AvailableNow drain.
#
# The shapes for which skipping the no-data batch LOSES results are
# guarded STRUCTURALLY, not by this comment staying true:
# :func:`needs_no_data_batch` inspects the analyzed streaming plan at
# drain time and forces the batch back ON for them
# (tests/test_streaming.py drains such a query to prove it).
def needs_no_data_batch(out, output_mode: str) -> bool:
    """True when skipping the trailing no-data micro-batch would DROP
    output. Three shapes qualify (all inspected from the ANALYZED
    streaming plan so the policy tracks the query shape, not a
    comment): an append-mode watermarked AGGREGATION (final windows
    emit only when the watermark passes them; streaming dedup's
    Aggregate-free cousin is fine — Deduplicate emits on arrival), an
    OUTER stream-stream join (null-extended unmatched rows emit only
    when the watermark proves no future match can arrive — i.e. in
    the trailing batch under an AvailableNow drain), and a stateful
    operator with an EVENT-TIME TIMEOUT (pending timeouts fire on
    watermark advancement; end-of-stream evictions happen exactly in
    the trailing batch — r10's session-timeout entry lost every
    still-pending eviction without it, 9399 vs 9528 rows at sf0.01)."""
    if output_mode != "append" or out is None:
        return False
    plan = out._jdf.queryExecution().analyzed().toString()
    if "EventTimeWatermark" not in plan:
        return False
    if "Aggregate" in plan or "EventTimeTimeout" in plan:
        return True
    return re.search(r"Join (LeftOuter|RightOuter|FullOuter)", plan) is not None


@contextmanager
def _scoped_state_partitions(out: DataFrame, n: int, output_mode: str):
    """Set the streaming-run confs (state partition count ``n``,
    no-data micro-batch policy) while a stateful query is started and
    drained, restoring the session's values afterwards. Safe because
    each drain uses a fresh checkpoint; the confs are read at query
    start. The trailing no-data batch runs only where
    :func:`needs_no_data_batch` finds a shape that needs it."""
    spark = out.sparkSession
    no_data_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    old_nd = spark.conf.get(no_data_key)
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set(
        no_data_key, str(needs_no_data_batch(out, output_mode)).lower()
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        spark.conf.set(no_data_key, old_nd)


def batch_writer(sink: str, output_mode: str):
    """foreachBatch parquet sink function, IDEMPOTENT under micro-batch
    retry (foreachBatch is at-least-once): complete mode overwrites the
    sink root (each batch re-emits the whole result table, so a retry
    replaces it wholesale); append and update modes route each epoch's
    rows into their own ``epoch=<id>`` partition directory and
    OVERWRITE it, so a retried batch replaces its own prior output
    instead of duplicating rows. Exactly-once by idempotence — the
    standard foreachBatch dedup recipe for non-transactional sinks.
    Read the sink back with ``spark.read.parquet(sink).drop("epoch")``
    (the drop is a no-op for complete mode).

    HARNESS-ONLY: ``repartition(1)`` packs each small AvailableNow
    batch into one file (unlike coalesce(1) the shuffle boundary keeps
    the upstream plan parallel). A production sink drops it and lets
    the writers partition."""
    if output_mode == "complete":

        def write_batch(df, _epoch):
            df.repartition(1).write.mode("overwrite").parquet(sink)

    else:

        def write_batch(df, epoch):
            df.repartition(1).write.mode("overwrite").parquet(
                f"{sink}/epoch={epoch}"
            )

    return write_batch


def drain(
    out: DataFrame,
    write_batch,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Run the streaming DataFrame ``out`` to completion — the one
    place a stream's lifecycle lives: create a FRESH checkpoint, start
    a ``foreachBatch(write_batch)`` query under Trigger.AvailableNow,
    wait for it, stop it in a ``finally`` and remove the checkpoint.
    A failing batch surfaces as the ``StreamingQueryException``
    ``awaitTermination`` raises, with no query left active and no
    checkpoint left behind. Returns the terminated query (its
    ``recentProgress`` stays readable).

    Every call gets a new checkpoint, so epochs start at 0: the
    versioned upsert drains read table version ``epoch - 1`` and rely
    on it.

    ``state_partitions`` is for STATEFUL queries: the drain then runs
    with ``spark.sql.shuffle.partitions`` set to it (the count freezes
    into the state store at first start; see the module docstring) and
    with the trailing no-data batch only where
    :func:`needs_no_data_batch` says the plan needs it. ``None`` leaves
    the session confs as they are — the stateless drains' batch bodies
    shuffle at the session's partition count."""
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    scope = (
        nullcontext()
        if state_partitions is None
        else _scoped_state_partitions(out, state_partitions, output_mode)
    )
    try:
        with scope:
            q = (
                out.writeStream.foreachBatch(write_batch)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
    finally:
        # a failed removal must not mask the query's own exception
        shutil.rmtree(ckpt, ignore_errors=True)
    return q
