"""Scale-ladder probe (r16, r15 VERDICT item 8): the sf0.1 bench is
task-overhead-bound — the driver's 8-core run beat its 32-core run —
so "fast at 100 TB" rested on plan-shape audits alone. This tool adds
one measured rung: materialize a K× replication of the sf0.1 tables
(default K=8, ≈ sf0.8) under $SPARK_GRAFT_WORK_DIR and time the
heaviest registry entries on it at two core counts. A 32-vs-8-core
ratio approaching 4× on the parallel families is the missing measured
evidence that the plans scale with cores once data outgrows the fixed
costs; ratios pinned near 1 would say the shapes serialize.

Replication preserves per-copy semantics instead of stamping exact
duplicates (which would inflate every dedup family quadratically and
measure the INFLATION, not the scaling):

- integer entity keys are offset per copy;
- document TEXT is letter-rotated per copy (copy 0 verbatim;
  copy i maps a..z → a+i..), preserving word/shingle statistics within
  a copy while giving copies disjoint vocabularies — no cross-copy
  near-duplicates;
- embeddings are cyclically rolled per copy (same norms and pairwise
  geometry within a copy, decorrelated across copies);
- event timestamps are kept (the stream's span structure is the
  workload), user ids offset.

The ladder dir is a PERFORMANCE fixture only — never oracle-checked,
never read by the bench. Results go to SCALING.md.

Usage:
  python tools/scale_ladder.py gen [K]          # materialize the rung
  python tools/scale_ladder.py run [names...]   # time entries on it
                                                # (cores via SPARK_GRAFT_CPUS)
"""

from __future__ import annotations

import json
import os
import sys
import time
from functools import reduce

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.session import WORK_ROOT, get_spark
from inf2106_map_reduce_spark.tables import load_table

SRC = "/root/testdata/sf0.1"
KEY_OFF = 100_000_000

#: per-table integer key columns to offset per copy
KEYS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

#: tiny dims referenced by nation/region keys — copied verbatim so
#: foreign keys stay valid
VERBATIM = ("region", "nation")

#: the heaviest bench lines (round-open BEFORE run) that are pure
#: registry entries; dedup_stage_build is timed separately below
DEFAULT_ENTRIES = (
    "streaming_session_timeout",
    "dedup_substring_spans",
    "dedup_semantic",
    "streaming_upsert_group_retention",
    "dedup_prefix_jaccard",
    "lineitem_status_gbt_isotonic",
    "lineitem_encoding_reliability",
    "lineitem_gbt_isotonic",
    "streaming_neardup_ingest",
    "streaming_upsert_scd2",
)


def ladder_dir(k: int) -> str:
    return os.path.join(WORK_ROOT, "ladder", f"sf0.1x{k}")


def _rot_text(col, i: int):
    """Letter-rotate a lowercase-corpus text column by i (copy 0
    verbatim): translate is 1:1 so word/shingle statistics survive
    within the copy while vocabularies across copies are disjoint."""
    if i == 0:
        return col
    alpha = "abcdefghijklmnopqrstuvwxyz"
    rot = alpha[i % 26 :] + alpha[: i % 26]
    return F.translate(col, alpha, rot)


def _copy(df: DataFrame, name: str, i: int) -> DataFrame:
    for c in KEYS.get(name, ()):
        df = df.withColumn(c, (F.col(c) + F.lit(i * KEY_OFF)).cast("bigint"))
    if name == "documents":
        df = df.withColumn("text", _rot_text(F.col("text"), i))
    if name == "embeddings" and i:
        n = F.size("embedding")
        df = df.withColumn(
            "embedding",
            F.concat(
                F.slice("embedding", F.lit(i % 8 + 1), n - (i % 8)),
                F.slice("embedding", 1, F.lit(i % 8)),
            ),
        )
    return df


def generate(k: int) -> str:
    dst = ladder_dir(k)
    done = os.path.join(dst, "_STAGED")
    if os.path.exists(done):
        print(f"ladder rung already staged: {dst}")
        return dst
    spark = get_spark(app_name="scale-ladder-gen")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(dst, exist_ok=True)
    for name in VERBATIM:
        load_table(spark, SRC, name).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
    import glob
    import shutil
    import tempfile

    for name in KEYS:
        base = load_table(spark, SRC, name)
        copies = [_copy(base, name, i) for i in range(k)]
        out = reduce(DataFrame.unionAll, copies)
        if name in ("events", "documents"):
            # the streaming readers glob these as single FILES
            # (pathGlobFilter="<name>.parquet"); small row groups keep
            # the one file splittable for the batch scans
            tmp = tempfile.mkdtemp(prefix="ladder_")
            (
                out.repartition(1)
                .write.option("parquet.block.size", 8 * 1024 * 1024)
                .mode("overwrite")
                .parquet(tmp)
            )
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            shutil.copyfile(part, os.path.join(dst, f"{name}.parquet"))
            shutil.rmtree(tmp)
        else:
            # ~2 files per copy so the rung's scans carry real splits
            # — the point of the rung is parallelism from DATA, not
            # from the small-input round-robin helpers
            out.repartition(2 * k).write.mode("overwrite").parquet(
                os.path.join(dst, f"{name}.parquet")
            )
        print(f"staged {name} x{k}")
    open(done, "w").close()
    spark.stop()
    return dst


def run(names: list[str]) -> None:
    k = int(os.environ.get("SPARK_GRAFT_LADDER_K", "8"))
    sf_dir = ladder_dir(k)
    assert os.path.exists(os.path.join(sf_dir, "_STAGED")), (
        f"generate the rung first: python tools/scale_ladder.py gen {k}"
    )
    from inf2106_map_reduce_spark.functions.dedup import (
        build_registry_stage_cache,
    )
    from inf2106_map_reduce_spark.queries import REGISTRY

    spark = get_spark(app_name="scale-ladder-run")
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism
    # same warm-up roles as bench.py: JVM/codegen + Python worker pool
    for w in ("q1_pricing_summary", "udf_arrow_norms"):
        REGISTRY[w].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    out: dict[str, float] = {}
    t0 = time.perf_counter()
    build_registry_stage_cache(spark, sf_dir)
    out["dedup_stage_build"] = round(time.perf_counter() - t0, 3)
    for name in names:
        spark.sparkContext.setJobDescription(f"ladder:{name}")
        t0 = time.perf_counter()
        REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        out[name] = round(time.perf_counter() - t0, 3)
    print(json.dumps({"k": k, "cores": cores, "sec": out}))
    spark.stop()


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "gen":
        generate(int(sys.argv[2]) if len(sys.argv) > 2 else 8)
    else:
        names = [a for a in sys.argv[1:] if a != "run"]
        run(names or list(DEFAULT_ENTRIES))
