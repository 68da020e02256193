"""Assertable physical-plan properties.

At 100 TB the plan IS the performance: a scan without pushed filters
reads the whole fact table; a missing broadcast turns a dimension join
into a full shuffle; an extra Exchange doubles the job. These helpers
let tests pin the plan shape, not just the results (SURVEY.md §4.3).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def run_with_plans(
    spark: SparkSession, fn: Callable[..., DataFrame], *args
) -> tuple[DataFrame, list[str]]:
    """Call ``fn(spark, *args)`` — a registry entry — and return its
    frame together with the formatted physical plans of the SQL
    executions that ran while it was built (eager localCheckpoints,
    bounded probes, stream drains), oldest first.

    A frame built from checkpointed stages shows only ExistingRDD
    scans in its own plan; the work that produced those stages ran
    during construction and is read back here from the SQL status
    store (kept with ``spark.ui.enabled=false`` too). Stages served
    from a warm :func:`~inf2106_map_reduce_spark.session.session_cache`
    entry ran under an earlier call and are not listed."""
    jsc = spark.sparkContext._jsc  # type: ignore[attr-defined]
    bus = jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    bus.waitUntilEmpty()
    last = _executions(store, 1)
    last_id = last[0].executionId() if last else -1
    df = fn(spark, *args)
    bus.waitUntilEmpty()
    # execution ids only grow, so the new ones are a tail of the
    # id-ordered list; widen the tail until it reaches an old id
    k = 16
    while True:
        tail = _executions(store, k)
        if len(tail) < k or tail[0].executionId() <= last_id:
            break
        k *= 4
    return df, [
        e.physicalPlanDescription() for e in tail if e.executionId() > last_id
    ]


def _executions(store, k: int) -> list:
    """The last ``k`` SQL executions in the status store, by id."""
    n = store.executionsCount()
    seq = store.executionsList(max(0, n - k), k)
    return [seq.apply(i) for i in range(seq.length())]


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries of every parquet scan in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def scan_columns(df: DataFrame) -> list[set[str]]:
    """ReadSchema column sets per scan — pins column pruning."""
    text = explain_str(df)
    out: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        cols = {
            c.split(":")[0].strip() for c in m.group(1).split(",") if c.strip()
        }
        out.append(cols)
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of Exchange operators (shuffles) in the physical plan."""
    return len(re.findall(r"\bExchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", explain_str(df, "simple")))


def data_shuffle_count(df: DataFrame) -> int:
    """Exchanges that move data BY KEY (hash/range/single-partition) —
    the shuffles that exist at every scale. Excludes round-robin
    repartitions: the only source of those in this engine is
    ``tables.ensure_parallelism``'s small-file parallelism fix, which
    is structurally absent at scale (the node is added only when the
    scan yields fewer splits than cores), so scale-property tests pin
    THIS count."""
    return len(re.findall(r"\bExchange (hashpartitioning|rangepartitioning|SinglePartition)", explain_str(df, "simple")))
