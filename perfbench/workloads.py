"""The benchmark's workloads: which calls run, in which order, and how
their outputs are checked.

Registry calls are ``QuerySpec.fn`` (the build phase) followed by a
noop-sink write (the execute phase). The tables are fixed fixtures. The
seed shuffles the call order of ``batch_sql``'s warm passes and
generates the word-count corpus; the cold pipeline keeps a fixed order,
because its first call of each family pays the JVM's first touch of
that code and a moving first call would move the per-call figures.

Calls of pass -1 are the untimed first touch: they are recorded and
checked like the others but left out of every metric.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from dataclasses import dataclass, field

import datagen
from recorder import Recorder, layer_of, tree_cpu_s

BATCH_SQL = (
    "q1_pricing_summary", "q2_min_cost_part", "q3_shipping_priority",
    "q4_priority_waiting_orders", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q7_volume_shipping", "q8_market_share",
    "q9_product_type_profit", "q10_returned_items",
    "q11_important_part_values", "q12_late_shipment_priority",
    "q13_customer_order_distribution", "q14_promo_revenue",
    "q15_top_supplier", "q16_supplier_count_by_part",
    "q17_small_quantity_revenue", "q18_large_volume_customers",
    "q19_discounted_revenue", "q20_excess_shipped_suppliers",
    "q21_waiting_suppliers", "q22_idle_customer_balance",
)

# The reference application's two calls, timed in batch_sql's passes.
WORD_COUNT = ("run_config", "word_count")

# The loop families (GBT, MMR) whose job counts the round-trip work
# targets; the dedup and text layers run their stage builds.
ITERATIVE = (
    "lineitem_gbt_isotonic",
    "docs_mmr_rerank",
)

# availableNow drains that write real files, one per streaming module.
STREAMING = (
    "streaming_upsert_latest",
    "streaming_user_stats_stateful",
    "streaming_click_attribution_full",
    "streaming_neardup_ingest",
)

#: Tokens in the word-count corpus (about 5.5 bytes each).
CORPUS_TOKENS = 50_000
SMOKE_CORPUS_TOKENS = 20_000

WORKLOADS = ("batch_sql", "iterative_pipeline")


@dataclass
class Run:
    """What a workload produced: the wall and CPU time of each timed
    pass, for the correctness gate the first result of each registry
    name (or its rows, when the first touch collected them), and the
    word-count outputs with their ground truth."""

    pass_walls: list[float] = field(default_factory=list)
    pass_cpu: list[float] = field(default_factory=list)
    results: dict = field(default_factory=dict)
    collected: dict = field(default_factory=dict)
    mr_outputs: list[tuple[str, str]] = field(default_factory=list)
    expected: dict[str, int] | None = None
    corpus_bytes: int = 0


class Workload:
    def __init__(self, spark, sf_dir: str, rec: Recorder, seed: int,
                 seconds: float, smoke: bool, scratch: str, oracle_utils) -> None:
        self.spark = spark
        self.oracle_utils = oracle_utils
        self.sf_dir = sf_dir
        self.rec = rec
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.smoke = smoke
        self.scratch = scratch
        self.out = Run()

    def _query(self, name: str, pass_no: int) -> None:
        """One registry call. The first touch (pass -1) collects the rows
        the gate checks instead of writing to the noop sink."""
        from inf2106_map_reduce_spark.queries import REGISTRY

        fn = REGISTRY[name].fn
        with self.rec.call(name, layer_of(fn), "query", pass_no) as phase:
            with phase("build"):
                df = fn(self.spark, self.sf_dir)
            with phase("execute"):
                if pass_no < 0:
                    self.out.collected[name] = self.oracle_utils.spark_result(df)
                else:
                    df.write.format("noop").mode("overwrite").save()
            self.out.results.setdefault(name, df)

    def _word_count(self, name: str, p: int) -> None:
        """One of the reference application's calls: ``run_config`` on a
        generated ``mapred.*`` properties file (combiner on, one reducer
        per core, token output), or the Catalyst ``word_count`` plan
        writing CSV. Every output is checked against the corpus."""
        from inf2106_map_reduce_spark.mrlite.config import run_config
        from inf2106_map_reduce_spark.mrlite.wordcount import word_count

        corpus = os.path.join(self.scratch, "corpus.txt")
        out = os.path.join(self.scratch, f"out{p}")
        if name == "run_config":
            props = os.path.join(self.scratch, f"wordcount{p}.properties")
            with open(props, "w") as f:
                f.write(
                    f"mapred.Input.name={corpus}\n"
                    "mapred.Mapper.servant-name=WordMapper\n"
                    "mapred.Reducer.servant-name=WordReducer\n"
                    f"mapred.Reducers.number={self.spark.sparkContext.defaultParallelism}\n"
                    "mapred.Combine.flag=true\n"
                    f"mapred.Output.name={out}/mr\n"
                )
            with self.rec.call(name, layer_of(run_config), "job", p) as phase:
                with phase("execute"):
                    run_config(self.spark, props)
            self.out.mr_outputs.append(("|", f"{out}/mr"))
        else:
            with self.rec.call(name, layer_of(word_count), "query", p) as phase:
                with phase("build"):
                    df = word_count(self.spark, corpus)
                with phase("execute"):
                    df.write.mode("overwrite").csv(f"{out}/wc")
            self.out.mr_outputs.append((",", f"{out}/wc"))

    def _timed_pass(self, pass_no: int, body) -> None:
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        body(pass_no)
        self.out.pass_walls.append(time.perf_counter() - t0)
        self.out.pass_cpu.append(tree_cpu_s() - cpu0)

    # -- workloads ------------------------------------------------------

    def batch_sql(self) -> None:
        """Warm passes over TPC-H q1-q22 and the reference word count,
        in seeded order, until ``seconds`` have passed."""
        corpus = os.path.join(self.scratch, "corpus.txt")
        n_tokens = SMOKE_CORPUS_TOKENS if self.smoke else CORPUS_TOKENS
        self.out.expected = datagen.write_corpus(corpus, n_tokens, self.seed)
        self.out.corpus_bytes = os.path.getsize(corpus)
        calls = dict.fromkeys(BATCH_SQL, self._query)
        calls.update(dict.fromkeys(WORD_COUNT, self._word_count))
        if not self.smoke:
            for name, call in calls.items():
                call(name, -1)

        def one_pass(p: int) -> None:
            order = list(calls)
            self.rng.shuffle(order)
            for name in order:
                calls[name](name, p)

        start = time.perf_counter()
        while not self.out.pass_walls or (
            not self.smoke and time.perf_counter() - start < self.seconds
        ):
            self._timed_pass(len(self.out.pass_walls), one_pass)

    def iterative_pipeline(self) -> None:
        """One cold pass: the two session stage builds, the iterative
        entries, then the streaming drains. Its unit of work is the
        cold pass, so it ignores ``seconds``."""
        from inf2106_map_reduce_spark.functions.dedup import build_registry_stage_cache
        from inf2106_map_reduce_spark.functions.text import registry_token_counts

        def one_pass(p: int) -> None:
            with self.rec.call("dedup_stage_build", layer_of(build_registry_stage_cache),
                               "stage", p) as phase:
                with phase("build"):
                    build_registry_stage_cache(self.spark, self.sf_dir)
            with self.rec.call("docs_tf_stage_build", layer_of(registry_token_counts),
                               "stage", p) as phase:
                with phase("build"):
                    tf = registry_token_counts(self.spark, self.sf_dir)
                with phase("execute"):
                    tf.count()
            for name in ITERATIVE + STREAMING:
                self._query(name, p)

        self._timed_pass(0, one_pass)


def _read_counts(directory: str, sep: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    for part in sorted(os.listdir(directory)):
        if part.startswith(("_", ".")):
            continue
        with open(os.path.join(directory, part), encoding="ascii") as f:
            for line in f:
                for token in line.split():
                    key, value = token.split(sep, 1)
                    counts[key] = counts.get(key, 0) + int(value)
    return counts


def _expected(name: str, sf_dir: str, oracle_utils, con) -> list:
    """Canonical DuckDB oracle answer, cached next to the tables of its
    scale (they never change for a given generator) and keyed by the
    oracle text."""
    from inf2106_map_reduce_spark.queries import oracle_for

    sql = oracle_for(name, sf_dir)
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(f"{sf_dir}.oracle", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    want = json.loads(json.dumps(oracle_utils.duckdb_result(con(), sql)))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        json.dump(want, f)
    os.replace(f"{path}.tmp", path)
    return want


def check(run: Run, sf_dir: str, oracle_utils) -> list[str]:
    """Names whose output does not match: registry results against
    their DuckDB oracle, word-count outputs against the generator's
    exact counts."""
    bad = set()
    conn = []

    def con():
        if not conn:
            conn.append(oracle_utils.duckdb_connection(sf_dir))
        return conn[0]

    for name in sorted(set(run.results) | set(run.collected)):
        try:
            got = run.collected.get(name)
            if got is None:
                got = oracle_utils.spark_result(run.results[name])
            want = _expected(name, sf_dir, oracle_utils, con)
        except Exception:
            bad.add(name)
            continue
        if json.loads(json.dumps(got)) != want:
            bad.add(name)
    for c in conn:
        c.close()
    for sep, directory in run.mr_outputs:
        try:
            ok = _read_counts(directory, sep) == run.expected
        except OSError:  # the call raised before writing
            ok = False
        if not ok:
            bad.add("run_config" if sep == "|" else "word_count")
    return sorted(bad)
