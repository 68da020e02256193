"""Connector round-trip queries: write a table through a format, read
it back with an explicit schema, aggregate — value-exact against the
oracle aggregating the original parquet directly. Proves the CSV/JSON
connectors preserve types and values (the reference's analogue is the
token-format read↔write pair, ``TokenRecordReader`` /
``TokenRecordWriter``, exercised the same way by its committed run
artifacts).

The intermediate lands under ``WORK_ROOT/sources/<sf>/`` —
side-effectful by design (a connector test has to touch storage), kept
out of the repo's git tree (gitignored) and the testdata tree. The
write-once dirs (_SUCCESS-guarded) survive across sessions so bench
runs after the first pay read cost only; bench.py stages them in its
warmup phase.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.session import WORK_ROOT
from inf2106_map_reduce_spark.sources import formats
from inf2106_map_reduce_spark.tables import load_table

_TMP_ROOT = os.path.join(WORK_ROOT, "sources")


def _stage_dir(sf_dir: str, fmt: str) -> str:
    return os.path.join(_TMP_ROOT, os.path.basename(os.path.normpath(sf_dir)), fmt)


def source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → CSV → explicit-schema read → per-status aggregate."""
    path = _stage_dir(sf_dir, "orders_csv")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    formats.write_csv(orders, path)
    back = formats.read_csv(
        spark,
        path,
        schema=(
            "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
            "o_totalprice double, o_orderdate date"
        ),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        F.min("o_orderdate").alias("first_date"),
        F.max("o_orderdate").alias("last_date"),
    )


def source_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → JSON-lines → explicit-schema read → per-type aggregate."""
    path = _stage_dir(sf_dir, "events_json")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    formats.write_jsonl(ev, path)
    back = formats.read_jsonl(
        spark,
        path,
        schema="event_id bigint, user_id bigint, event_type string, value double",
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


def source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem → ORC → read back → per-flag aggregate.

    ORC is self-describing (schema travels with the file) and columnar
    — the read-back scan prunes to the four aggregated columns and
    keeps predicate-pushdown parity with parquet at scale.
    """
    path = _stage_dir(sf_dir, "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    formats.write_orc(li, path)
    back = formats.read_orc(spark, path)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


CSV_ROUNDTRIP_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price,
       MIN(CAST(o_orderdate AS DATE)) AS first_date,
       MAX(CAST(o_orderdate AS DATE)) AS last_date
FROM orders GROUP BY o_orderstatus
"""

JSON_ROUNDTRIP_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY event_type
"""

ORC_ROUNDTRIP_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_items,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       ROUND(SUM(l_extendedprice), 2) AS sum_price
FROM lineitem GROUP BY l_returnflag
"""


def source_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → hive-partitioned parquet (partitionBy status) → read
    with a partition-column filter → aggregate.

    Scale: the status filter never touches data — it prunes whole
    directories at planning time (``PartitionFilters`` in the scan, the
    plan-shape test pins it). At 100 TB, partitioning the write by the
    dominant filter column is the single biggest scan saver; the layout
    also bounds file listing to the matched partitions.
    """
    path = _stage_dir(sf_dir, "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def dpp_partitioned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the hive-partitioned orders fact
    joined to a FILTERED dim whose values are only known at runtime —
    Spark injects the dim's status values as a partition filter into
    the fact scan (``dynamicpruning`` subquery in the plan), so only
    the matching partitions are read.

    Scale: this is how a 100 TB date-partitioned fact avoids a full
    scan when the query filters through a dimension (e.g. "orders in
    fiscal Q3" where fiscal quarters live in a calendar dim).
    """
    path = _stage_dir(sf_dir, "orders_part")
    orders = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        orders.write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "status string, status_desc string",
    ).filter(F.col("status_desc") != "open")
    return (
        fact.join(dim, fact.o_orderstatus == dim.status)
        .groupBy("status_desc")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


PARTITIONED_ROUNDTRIP_ORACLE = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
"""

DPP_ORACLE = """
SELECT CASE o_orderstatus WHEN 'F' THEN 'finished' ELSE 'pending' END
         AS status_desc,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders WHERE o_orderstatus IN ('F', 'P')
GROUP BY 1
"""


#: Scoped confs that surface Spark's runtime row-level Bloom-filter
#: pruning (``InjectRuntimeFilter``) at test SFs. The rule only fires
#: when the join is probably a SHUFFLE join and the application-side
#: scan clears a size threshold — exactly the 100 TB shape (neither
#: fact nor filtered dim broadcast-able, 10 GB+ scans), and exactly
#: what a local[32]/sf0.1 session never looks like. So the entry
#: plans itself under thresholds that emulate the at-scale decision
#: (broadcast off, scan threshold 0), freezes that physical plan into
#: the returned Dataset, and restores the session confs — no other
#: query's plan is touched.
BLOOM_JOIN_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "512MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # NOT scoped: spark.sql.adaptive.autoBroadcastJoinThreshold. AQE's
    # runtime re-optimization reads the LIVE session confs (verified:
    # scoping it at planning changed nothing), so at test SFs the
    # post-shuffle join operator still converts to a broadcast read of
    # the already-shuffled tiny dim. That conversion happens AFTER the
    # Bloom probe and the fact-side shuffle have executed — the two
    # properties the entry pins — and is exactly what AQE would do on
    # a real cluster with a genuinely small dim; with a 100 TB dim the
    # runtime sizes keep the sort-merge join.
}


#: Serializes conf-scoped planning sections (see plan_with_confs
#: CONCURRENCY note).
_PLAN_CONF_LOCK = threading.Lock()


def plan_with_confs(df: DataFrame, confs: dict[str, str]) -> DataFrame:
    """Force physical planning of ``df`` under temporarily-set session
    confs, then restore them. A Dataset's ``QueryExecution`` phases
    are lazy vals — touching ``executedPlan`` inside the scope freezes
    the optimized plan (verified: the runtime-filter subquery persists
    after restore) for actions that go through the SAME
    ``QueryExecution``: ``collect``/``toPandas``/``localCheckpoint``.

    CAVEAT (measured, round 10): ``DataFrameWriter`` actions
    (``df.write...save()``) build a FRESH QueryExecution and replan
    under the session's restored confs — the frozen plan is silently
    dropped on that path. A caller that must hand the frozen plan's
    EXECUTION to arbitrary consumers (the bench's noop sink, a parquet
    writer) must materialize inside the same QE first:
    ``plan_with_confs(df, confs).localCheckpoint(eager=True)``
    (verified: the checkpoint flips the SAME QE to isFinalPlan and the
    returned frame is an RDD scan of the executed rows).

    CONCURRENCY: session confs are process-global mutable state — any
    query planned on the same session WHILE the scope is open (a
    concurrent caller thread, a running streaming micro-batch being
    replanned) would silently plan under these confs (including
    ``autoBroadcastJoinThreshold=-1``). The module lock below
    serializes concurrent ``plan_with_confs`` calls against each
    other; it cannot fence unrelated planners, so callers in a
    multi-threaded session should treat the scope as a stop-the-world
    planning section (the registry/bench/test harnesses are all
    single-threaded, where this is moot)."""
    spark = df.sparkSession
    with _PLAN_CONF_LOCK:
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            df._jdf.queryExecution().executedPlan()
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
    return df


def _bloom_joined(li: DataFrame, orders: DataFrame) -> DataFrame:
    """The Bloom-join query shape over caller-supplied frames — ONE
    copy of the construction shared by the registry entry, the plan
    helper, and the scaling probe (which passes replicated tables), so
    the join body cannot silently diverge between them."""
    dim = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    fact = li.select("l_orderkey", "l_extendedprice", "l_returnflag")
    return (
        fact.join(dim, fact.l_orderkey == dim.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


def bloom_pruned_join(li: DataFrame, orders: DataFrame) -> DataFrame:
    """Frame-parameterized frozen-plan EXECUTION of the Bloom join —
    the one place the freeze-then-localCheckpoint contract lives (see
    the plan_with_confs caveat: any other action path replans without
    the filter). The scaling probe calls this with replicated
    tables."""
    return plan_with_confs(
        _bloom_joined(li, orders), BLOOM_JOIN_CONFS
    ).localCheckpoint(eager=True)


def bloom_runtime_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNEXECUTED frozen plan behind :func:`bloom_runtime_join` —
    split out so the plan-pin tests can inspect the physical plan
    (might_contain probe, Bloom-aggregate subquery, shuffle join)
    before execution collapses the returned frame to an RDD scan."""
    return plan_with_confs(
        _bloom_joined(
            load_table(spark, sf_dir, "lineitem"),
            load_table(spark, sf_dir, "orders"),
        ),
        BLOOM_JOIN_CONFS,
    )


def bloom_runtime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime row-level Bloom-filter pruned join — the last built-in
    Spark pruning mechanism without a pinned entry (static partition
    pruning and DPP live above): the optimizer plants a
    ``BloomFilterAggregate`` over the FILTERED dim's join keys and a
    ``might_contain`` probe on the fact scan, so fact rows whose
    order key cannot match are dropped BEFORE the join shuffle.

    Scale: this is the shuffle-join complement of DPP — when the fact
    is not partitioned by the join key (so DPP can't prune files) and
    the dim side is too big to broadcast, the Bloom probe is the only
    mechanism that cuts shuffle volume by the dim filter's
    selectivity (~20% here: one of five order priorities). The probe
    is semantics-preserving (no false negatives), so results are
    bit-identical with or without it — the oracle doesn't care, the
    plan pin does. Thresholds are scoped per the
    :data:`BLOOM_JOIN_CONFS` note.

    The frozen plan is EXECUTED here, eagerly, via localCheckpoint on
    the same QueryExecution, and consumers get the materialized rows
    (one per l_returnflag): a ``.write``-path consumer builds a fresh
    QueryExecution that REPLANS under the session's restored confs —
    measured in round 10, the bench's noop sink silently timed a
    broadcast join with no Bloom filter that way (see the
    plan_with_confs caveat). The checkpoint pins execution to the
    at-scale plan for every consumer; the eager construction-time job
    IS the query, billed to its own bench line."""
    return bloom_pruned_join(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


BLOOM_RUNTIME_JOIN_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_items,
       ROUND(SUM(l_extendedprice), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def layout_range_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned, sorted write layout: lineitem is
    ``repartitionByRange(l_shipdate).sortWithinPartitions(l_shipdate)``
    before writing, then read back with a one-month predicate.

    Scale: the sorted layout clusters each date range into few files
    AND makes parquet row-group min/max stats selective, so the pushed
    date filter (plan-pinned) skips whole row groups — the unpartitioned
    complement to hive partitioning when the filter column is too
    fine-grained to be a directory key (a 100 TB fact over years of
    seconds-resolution timestamps).
    """
    path = _stage_dir(sf_dir, "lineitem_range_sorted")
    li = load_table(spark, sf_dir, "lineitem")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            li.repartitionByRange(8, "l_shipdate")
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(path)
        )
    back = spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


RANGE_SORTED_ORACLE = """
SELECT l_returnflag, COUNT(*) AS n_items,
       ROUND(SUM(l_quantity), 2) AS sum_qty
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-06-01'
  AND l_shipdate < TIMESTAMP '1996-07-01'
GROUP BY l_returnflag
"""


def maintenance_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction: a fragmented write (64 files) is
    rewritten to a handful of right-sized files, then read back and
    aggregated.

    Scale: the small-file problem is the #1 operational failure of
    long-running ingest at 100 TB — file-count grows with (batches x
    partitions), and every downstream scan pays listing + open cost per
    file. Compaction = read + ``repartition(target)`` + rewrite; AQE
    coalescing prevents re-fragmenting. Target file size 128-1024 MB;
    here 64 → 4 files (test-pinned).
    """
    frag = _stage_dir(sf_dir, "events_fragmented")
    compact = _stage_dir(sf_dir, "events_compacted")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        ev.repartition(64).write.mode("overwrite").parquet(frag)
    if not os.path.exists(os.path.join(compact, "_SUCCESS")):
        spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(
            compact
        )
    back = spark.read.parquet(compact)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


COMPACTION_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events GROUP BY event_type
"""


def schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution: two parquet batches with different schemas
    (batch 2 adds a ``bonus`` column) read as ONE dataset via
    ``mergeSchema``; the missing column is null-filled for batch-1
    rows.

    Scale: additive schema evolution is how a year-long ingest keeps
    old batches readable. mergeSchema's footer-merge cost scales with
    file count — at 100 TB pin the schema in a catalog/metastore and
    pass it explicitly; the null-fill read semantics are identical.
    """
    path = _stage_dir(sf_dir, "events_evolving")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    if not os.path.exists(os.path.join(path, "batch2", "_SUCCESS")):
        ev.filter(F.col("event_id") % 2 == 0).write.mode("overwrite").parquet(
            os.path.join(path, "batch1")
        )
        ev.filter(F.col("event_id") % 2 == 1).withColumn(
            "bonus", F.round(F.col("value") * 2, 2)
        ).write.mode("overwrite").parquet(os.path.join(path, "batch2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch1"), os.path.join(path, "batch2")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("bonus").isNull(), 1).otherwise(0)).alias("n_legacy"),
        F.round(F.sum(F.coalesce(F.col("bonus"), F.lit(0.0))), 2).alias("total_bonus"),
    )


def source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingest via the built-in ``binaryFile`` source —
    the first step of a multimodal pipeline: files land as (path,
    length, content bytes) rows with NO decode, so images/audio/video
    enter the lake as queryable blobs. Emits per-file name, byte
    count, and a content digest.

    The digest is ``md5(hex(content))`` only because the DuckDB oracle
    lacks md5 over BLOB — hex is the shared canonical form both
    engines agree on; a production pipeline hashes the raw bytes
    (``F.md5(content)``) and skips the 2× hex blow-up. Scale:
    binaryFile caps per-file size (whole file = one row) — right for
    images/clips; multi-GB media gets chunked upstream. The scan is
    parallel over files; nothing touches the driver.
    """
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(sf_dir)
    )
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("file_name"),
        F.col("length").alias("n_bytes"),
        F.md5(F.hex(F.col("content"))).alias("content_md5"),
    )


def binaryfile_oracle(sf_dir: str) -> str:
    """read_blob needs a filesystem path, not a registered view — build
    the oracle from the SAME sf_dir the harness runs the Spark side at,
    so an SF override (SPARK_GRAFT_ORACLE_SF_DIR) compares like with
    like instead of failing spuriously against a pinned sf0.01 path."""
    return f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(size AS BIGINT) AS n_bytes,
           md5(hex(content)) AS content_md5
    FROM read_blob('{sf_dir}/*.parquet')
    """


SCHEMA_EVOLUTION_ORACLE = """
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_legacy,
       ROUND(SUM(CASE WHEN event_id % 2 = 1
                 THEN ROUND(value * 2, 2) ELSE 0.0 END), 2) AS total_bonus
FROM events GROUP BY event_type
"""


def layout_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered write layout: orders are laid out by
    the bit-interleaving of (o_custkey, month(o_orderdate)) so a scan
    filtered on EITHER dimension — or both — skips most files/row
    groups. The multi-dimensional complement to
    :func:`layout_range_sorted_scan`'s single-key sort: a linear sort
    clusters one column perfectly and the other not at all; the
    Z-curve trades a little locality on each for pruning on both.

    The interleave is pure bit arithmetic on 16-bit normalized keys
    (shiftleft/or over JVM expressions, no UDF); the layout write is
    ``repartitionByRange(z) + sortWithinPartitions(z)``, after which
    parquet min/max stats on both source columns become selective.
    Scale: this is exactly the Delta/Iceberg OPTIMIZE ZORDER pattern —
    a periodic rewrite whose cost is one range-shuffle of the table.
    """
    path = _stage_dir(sf_dir, "orders_zorder")
    o = load_table(spark, sf_dir, "orders")

    def _spread(col):  # 16-bit value -> even bit positions (32-bit)
        # classic Morton spreading via magic masks, expression-only
        # (Column.bitwiseOR, not `|` — PySpark overloads `|` as boolean OR)
        x = col.cast("bigint")
        x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
        x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
        x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
        x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
        return x

    ck = F.pmod(F.col("o_custkey"), F.lit(1 << 16))
    mo = F.pmod(
        F.month("o_orderdate") + F.year("o_orderdate") * 12, F.lit(1 << 16)
    )
    z = _spread(ck).bitwiseOR(F.shiftleft(_spread(mo), 1)).alias("_z")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            o.withColumn("_z", z)
            .repartitionByRange(8, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(path)
        )
    back = spark.read.parquet(path).filter(
        (F.col("o_custkey") <= 200)
        & (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-01-01"))
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


ZORDER_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total_price
FROM orders
WHERE o_custkey <= 200
  AND o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY o_orderstatus
"""


def source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation+region → XML (Spark 4 native source) → explicit-schema
    read → per-region rollup. XML is the interchange format the
    reference's pluggable IOFormat never got; the native source keeps
    it a real scan (splittable by row tag, schema explicit) rather
    than a driver-side parse."""
    path = _stage_dir(sf_dir, "nation_xml")
    n = load_table(spark, sf_dir, "nation").join(
        load_table(spark, sf_dir, "region").select(
            "r_regionkey", "r_name"
        ),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name", "r_name")
    formats.write_xml(n, path, row_tag="nation")
    back = formats.read_xml(
        spark,
        path,
        row_tag="nation",
        schema="n_nationkey bigint, n_name string, r_name string",
    )
    return back.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_nations"),
        F.min("n_name").alias("first_nation"),
        F.max("n_name").alias("last_nation"),
    )


XML_ROUNDTRIP_ORACLE = """
SELECT r.r_name, COUNT(*) AS n_nations,
       MIN(n.n_name) AS first_nation, MAX(n.n_name) AS last_nation
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


def source_csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer → gzip-compressed CSV → explicit-schema read → per-
    segment aggregate: the COMPRESSED-codec connector lane (the other
    roundtrips exercise formats; this one exercises the codec axis —
    Spark wires any Hadoop codec through the same option).

    Scale note, recorded deliberately: gzip output is NOT splittable —
    each .csv.gz file maps to exactly one read task, so a 100 TB gzip
    export serializes its scan per file. The write side controls file
    count (one gzip member per write task), which bounds read
    parallelism to the write's partitioning; for scan-heavy pipelines
    prefer zstd (splittable via Hadoop 3's SplittableCompressionCodec
    support in text inputs is absent — so really: prefer parquet) and
    keep gzip for interchange exports like this one.
    """
    path = _stage_dir(sf_dir, "customer_csv_gz")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    formats.write_csv(cust, path, compression="gzip")
    back = formats.read_csv(
        spark,
        path,
        schema=(
            "c_custkey bigint, c_nationkey int, c_acctbal double, "
            "c_mktsegment string"
        ),
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


CSV_GZIP_ROUNDTRIP_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       ROUND(SUM(c_acctbal), 2) AS total_balance
FROM customer GROUP BY c_mktsegment
"""
