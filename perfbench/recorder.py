"""Call records, spans and per-layer metrics.

Every timed call goes through :meth:`Recorder.call`, which brackets it
by Spark job id (``DAGScheduler.nextJobId``) before and after each
phase. Calls run one after another from a single client thread, so the
half-open id range ``[before, after)`` holds exactly the jobs the call
caused, including jobs that stream-execution threads submit on its
behalf (job groups miss those). After the timed region the jobs and
stages are read back from Spark's status store; micro-batch progress
comes from a ``StreamingQueryListener``. Nothing inside the engine
package is instrumented.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

LAYERS = (
    "operators.relational",
    "operators.stats",
    "functions.dedup",
    "functions.text",
    "functions.retrieval",
    "streaming.windows",
    "streaming.stateful",
    "streaming.joins",
    "streaming.ingest",
    "mrlite.config",
    "mrlite.wordcount",
)

# (name, unit, better) for each layer's common metrics.
LAYER_METRICS = (
    ("build_s", "s", "lower"),
    ("execute_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("core_util", "ratio", "higher"),
)

SPECIFIC_METRICS = (
    ("session.start_s", "s", "lower"),
    ("functions.dedup.stage_build_s", "s", "lower"),
    ("functions.text.stage_build_s", "s", "lower"),
    ("streaming.microbatches", "count", "lower"),
    ("streaming.input_rows", "rows", "lower"),
    ("streaming.state_rows", "rows", "lower"),
    ("streaming.addbatch_ms", "ms", "lower"),
    ("streaming.microbatch_p50_ms", "ms", "lower"),
    ("mrlite.job.map_out_records", "records", "lower"),
    ("mrlite.job.shuffle_records", "records", "lower"),
    ("mrlite.job.combine_ratio", "ratio", "lower"),
    ("mrlite.job.map_stage_s", "s", "lower"),
    ("mrlite.job.reduce_stage_s", "s", "lower"),
    ("mrlite.job.input_mb_per_s", "MB/s", "higher"),
)


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and
    every live process under it, with the children each of them has
    reaped. The driver Python, the JVM it launched and the JVM's Python
    workers all count. Time the hypervisor gave to other guests does
    not."""
    root = os.getpid()
    ppid: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        ppid[int(d)] = int(fields[1])
        # utime, stime, cutime, cstime
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = ppid.get(p, 0)
        if p == root:
            total += t
    return total / _TICK


def per_layer_spec() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in print order."""
    common = [
        (f"{layer}.{m}", unit, better)
        for layer in LAYERS
        for m, unit, better in LAYER_METRICS
    ]
    return common + list(SPECIFIC_METRICS)


def layer_of(fn) -> str:
    """Layer name of a callable: its module without the package prefix."""
    return fn.__module__.split(".", 1)[1]


@dataclass
class Call:
    name: str
    layer: str
    kind: str  # "query", "stage" or "job"
    pass_no: int
    start: float = 0.0  # epoch seconds
    wall_s: float = 0.0
    cpu_s: float = 0.0
    phases: dict[str, float] = field(default_factory=dict)
    jobs: dict[str, tuple[int, int]] = field(default_factory=dict)
    error: str | None = None
    progress: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)
    job_spans: list[dict] = field(default_factory=list)


class _ProgressListener(StreamingQueryListener):
    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append(
            {
                "query": str(p.id),
                "batch": p.batchId,
                "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
                "input_rows": p.numInputRows,
                "state_rows": sum(op.numRowsTotal for op in p.stateOperators),
            }
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Recorder:
    """Times calls and, when ``trace`` is set, collects their spans."""

    def __init__(self, spark, trace: bool) -> None:
        self.spark = spark
        self.trace = trace
        self.calls: list[Call] = []
        self._sc = spark.sparkContext._jsc.sc()
        self._listener = None
        if trace:
            self._listener = _ProgressListener()
            spark.streams.addListener(self._listener)

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    @contextmanager
    def call(self, name: str, layer: str, kind: str, pass_no: int):
        """Time one call; yields a ``phase(name)`` context factory. An
        exception inside is recorded on the call and not re-raised."""
        c = Call(name, layer, kind, pass_no, start=time.time())

        @contextmanager
        def phase(pname: str):
            j0 = self._next_job()
            t0 = time.perf_counter()
            try:
                yield
            finally:
                c.phases[pname] = time.perf_counter() - t0
                c.jobs[pname] = (j0, self._next_job())

        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            yield phase
        except Exception as e:  # counted in failed_ratio, listed by name
            c.error = f"{type(e).__name__}: {str(e)[:300]}"
        c.wall_s = time.perf_counter() - t0
        c.cpu_s = tree_cpu_s() - cpu0
        if self._listener is not None:
            self._drain()
            c.progress, self._listener.events = self._listener.events, []
        self.calls.append(c)

    # -- status store ---------------------------------------------------

    def _stages_of_jobs(self, lo: int, hi: int) -> tuple[list[dict], list[dict]]:
        store = self._sc.statusStore()
        jobs, stages, seen = [], [], set()
        for jid in range(lo, hi):
            try:
                jd = store.job(jid)
            except Exception:  # evicted or never registered
                continue
            jobs.append(
                {
                    "job": jid,
                    "start_ms": _date_ms(jd.submissionTime()),
                    "end_ms": _date_ms(jd.completionTime()),
                }
            )
            ids = jd.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # skipped stages are never attempted
                    continue
                stages.append(
                    {
                        "job": jid,
                        "stage": sid,
                        "status": sd.status().toString(),
                        "tasks": int(sd.numCompleteTasks()),
                        "run_ms": int(sd.executorRunTime()),
                        "cpu_ns": int(sd.executorCpuTime()),
                        "shuffle_write_bytes": int(sd.shuffleWriteBytes()),
                        "shuffle_write_records": int(sd.shuffleWriteRecords()),
                        "spill_bytes": int(sd.diskBytesSpilled()),
                        "input_bytes": int(sd.inputBytes()),
                        "input_records": int(sd.inputRecords()),
                        "start_ms": _date_ms(sd.submissionTime()),
                        "end_ms": _date_ms(sd.completionTime()),
                    }
                )
        return jobs, stages

    def resolve(self) -> None:
        """Attach job and stage records to every call."""
        self._drain()
        for c in self.calls:
            if not c.jobs:
                continue
            lo = min(r[0] for r in c.jobs.values())
            hi = max(r[1] for r in c.jobs.values())
            c.job_spans, c.stages = self._stages_of_jobs(lo, hi)

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None


def _date_ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


def spans(calls: list[Call]) -> list[dict]:
    """Flatten calls into parent/child spans for the trace file."""
    out = []
    for i, c in enumerate(calls):
        cid = f"c{i}"
        out.append(
            {
                "id": cid,
                "parent": None,
                "kind": "call",
                "name": c.name,
                "layer": c.layer,
                "start_ms": round(c.start * 1000, 3),
                "dur_ms": round(c.wall_s * 1000, 3),
                "error": c.error,
            }
        )
        offset = 0.0
        for pname, dur in c.phases.items():
            out.append(
                {
                    "id": f"{cid}.{pname}",
                    "parent": cid,
                    "kind": pname,
                    "name": c.name,
                    "layer": c.layer,
                    "start_ms": round((c.start + offset) * 1000, 3),
                    "dur_ms": round(dur * 1000, 3),
                    "jobs": list(c.jobs[pname]),
                }
            )
            offset += dur
        for j in c.job_spans:
            out.append({"id": f"{cid}.j{j['job']}", "parent": cid, "kind": "job", **j})
        for s in c.stages:
            out.append(
                {"id": f"{cid}.s{s['stage']}", "parent": f"{cid}.j{s['job']}",
                 "kind": "stage", **s}
            )
        for p in c.progress:
            out.append({"id": f"{cid}.b{p['batch']}.{p['query'][:8]}", "parent": cid,
                        "kind": "microbatch", **p})
    return out


def layer_metrics(
    calls: list[Call], passes: int, cores: int, extra: dict[str, float]
) -> dict[str, float]:
    """Per-layer metrics, each a total per pass over the timed calls.
    ``extra`` supplies the figures measured outside calls (session
    start) and overrides computed ones of the same name."""
    m: dict[str, float] = {name: 0.0 for name, _, _ in per_layer_spec()}
    wall: dict[str, float] = {layer: 0.0 for layer in LAYERS}
    mr_bytes = [0, 0]  # map-stage input bytes, map-stage shuffle bytes
    for c in calls:
        if c.layer not in wall:
            continue
        p = f"{c.layer}."
        wall[c.layer] += c.wall_s
        m[p + "build_s"] += c.phases.get("build", 0.0)
        m[p + "execute_s"] += c.phases.get("execute", 0.0)
        m[p + "jobs"] += len(c.job_spans)
        for s in c.stages:
            m[p + "tasks"] += s["tasks"]
            m[p + "executor_run_s"] += s["run_ms"] / 1e3
            m[p + "executor_cpu_s"] += s["cpu_ns"] / 1e9
            m[p + "shuffle_write_bytes"] += s["shuffle_write_bytes"]
            m[p + "spill_bytes"] += s["spill_bytes"]
        if c.kind == "stage":
            m[p + "stage_build_s"] += c.wall_s
        if c.name == "run_config":
            _add_mr_job(m, c, mr_bytes)
    for layer, w in wall.items():
        if w > 0:
            m[f"{layer}.core_util"] = m[f"{layer}.executor_run_s"] / (w * cores)
    batches = [p for c in calls for p in c.progress]
    m["streaming.microbatches"] = len(batches)
    m["streaming.input_rows"] = sum(p["input_rows"] for p in batches)
    m["streaming.addbatch_ms"] = sum(p["duration_ms"].get("addBatch", 0) for p in batches)
    last_state: dict[str, int] = {}
    for p in batches:
        last_state[p["query"]] = p["state_rows"]
    m["streaming.state_rows"] = sum(last_state.values())
    if passes > 1:
        m = {k: v / passes for k, v in m.items()}
    if batches:
        m["streaming.microbatch_p50_ms"] = statistics.median(
            p["duration_ms"].get("triggerExecution", 0) for p in batches
        )
    if mr_bytes[0]:
        m["mrlite.job.combine_ratio"] = mr_bytes[1] / mr_bytes[0]
    m.update(extra)
    return m


def _add_mr_job(m: dict[str, float], c: Call, mr_bytes: list[int]) -> None:
    """Map and reduce figures of one ``run_config`` call: map stages are
    the ones that write shuffle output; the rest read it.

    ``map_out_records`` is the map stage's input records: the token file
    holds one token per line and the word mapper emits one record per
    token. ``shuffle_records`` is what Spark counts for the shuffle
    write, which for a Python RDD job is serialized batches of combined
    pairs, so the combiner's effect is read in bytes: ``combine_ratio``
    is shuffle bytes written per input byte of the map stage."""
    for s in c.stages:
        dur = ((s["end_ms"] or 0) - (s["start_ms"] or 0)) / 1e3
        if s["shuffle_write_records"]:
            m["mrlite.job.map_out_records"] += s["input_records"]
            m["mrlite.job.shuffle_records"] += s["shuffle_write_records"]
            m["mrlite.job.map_stage_s"] += dur
            mr_bytes[0] += s["input_bytes"]
            mr_bytes[1] += s["shuffle_write_bytes"]
        elif s["tasks"]:
            m["mrlite.job.reduce_stage_s"] += dur
