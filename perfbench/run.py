"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload batch_sql --seed 1 --seconds 5 --trace 0

Run from the repository root. The script generates its inputs (the
tables once per checkout, under ``.perfbench/data``), starts one Spark
session on ``local[<cores>]`` several times to measure set-up, runs the
workload from a single client thread, checks every output, and prints
one JSON object as its last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones and a span file is written. The full record of the run
(host, calibration probes, every call) goes to ``.perfbench/records``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
PACKAGE = os.path.join(ROOT, "inf2106_map_reduce_spark", "__init__.py")
ORACLE_UTILS = os.path.join(ROOT, "tests", "oracle_utils.py")

SF = 0.01
SMOKE_SF = 0.001
SETUP_REPS = 3
DRIVER_MEM = "4g"


def _conf(run_dir: str) -> dict[str, str]:
    return {
        # status-store retention large enough that no job of a run is
        # evicted before it is read back
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        # A fixed heap and young generation: when the JVM sizes them
        # itself, the driver's peak RSS follows GC timing (and so host
        # load) rather than what the run keeps live. The JVM's temporary
        # files stay in the run directory.
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Xmn512m -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
    }

END_TO_END = (
    ("setup_s", "s"),
    ("cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)


def _args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001 tables, a tiny corpus and one pass")
    return p.parse_args(argv)


def _tables(sf: float) -> str:
    """Directory of the generated tables at ``sf``, made on first use."""
    import datagen

    with open(datagen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(OUT, "data", version, f"sf{sf}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        datagen.write_tables(tmp, sf)
        os.replace(tmp, path)
    return path


def _isolate(run_dir: str, cores: int) -> str | None:
    """Point every writable location of the engine at ``run_dir`` and
    fix the core count; returns the inherited core count setting."""
    inherited = os.environ.get("SPARK_GRAFT_CPUS")
    for sub in ("work", "tmp", "local", "out"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["SPARK_GRAFT_WORK_DIR"] = os.path.join(run_dir, "work")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the package by path, wherever they start.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None
    return inherited


def _load_oracle_utils():
    spec = importlib.util.spec_from_file_location("oracle_utils", ORACLE_UTILS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _warm_up(spark, sf_dir: str) -> None:
    """JVM codegen on one TPC-H plan."""
    from inf2106_map_reduce_spark.queries import REGISTRY

    REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()


def _setup(sf_dir: str, run_dir: str, reps: int):
    """Start the session ``reps`` times (session start plus warm-up);
    the last session stays up. The first start includes the JVM.
    Returns the session, the CPU and wall seconds of each set-up, and
    the wall seconds of each session start."""
    from inf2106_map_reduce_spark.session import get_spark
    from recorder import tree_cpu_s

    spark, cpu, wall, start = None, [], [], []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench", extra_conf=_conf(run_dir))
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _warm_up(spark, sf_dir)
        wall.append(time.perf_counter() - t0)
        cpu.append(tree_cpu_s() - c0)
        start.append(t1 - t0)
    return spark, cpu, wall, start


def _probes(spark, sf_dir: str) -> dict[str, float]:
    """The two host calibration tasks of ``bench.py`` (range-sum CPU and
    lineitem scan + aggregate), one timed shot each."""

    def timed(task) -> float:
        t0 = time.perf_counter()
        task().write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    li = os.path.join(sf_dir, "lineitem.parquet")
    scan = lambda: (  # noqa: E731
        spark.read.parquet(li).groupBy("l_suppkey").agg({"l_quantity": "sum"})
    )
    timed(scan)  # untimed warm-up fills the page cache
    return {
        "range_sum_s": timed(
            lambda: spark.range(200_000_000).selectExpr("sum(id * 3 % 7) AS s")
        ),
        "lineitem_scan_s": timed(scan),
    }


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _shutdown(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class _Clock:
    """Wall time of each stage of a run, for the record."""

    def __init__(self) -> None:
        self.laps: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = round(now - self._t, 3)
        self._t = now


def _quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta-weighted mean
    of all order statistics. With a few dozen calls it moves smoothly
    where a single order statistic jumps from one call to the next."""
    x = np.sort(np.asarray(values, dtype=float))
    n = len(x)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    bins = 20_000
    t = (np.arange(bins) + 0.5) / bins
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
    cum = np.concatenate(([0.0], np.cumsum(np.exp(log_pdf - log_pdf.max()))))
    cdf = np.interp(np.arange(n + 1) / n, np.linspace(0, 1, bins + 1), cum / cum[-1])
    return float(np.diff(cdf) @ x)


def bench(args, run_dir: str, cores: int, inherited: str | None) -> dict:
    from recorder import Recorder, layer_metrics, per_layer_spec, spans
    from workloads import Workload, check

    clock = _Clock()
    sf_dir = _tables(SMOKE_SF if args.smoke else SF)
    oracle_utils = _load_oracle_utils()
    clock.lap("inputs")
    steal0 = _steal_s()
    spark, setup, setup_wall, start = _setup(
        sf_dir, run_dir, 2 if args.smoke else SETUP_REPS
    )
    clock.lap("setup")
    try:
        import pyspark

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        host = {
            "nproc": cores,
            "cpu_count": os.cpu_count(),
            "SPARK_GRAFT_CPUS": cores,
            "SPARK_GRAFT_CPUS_inherited": inherited,
            "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "probes_start": _probes(spark, sf_dir),
        }
        clock.lap("probes_start")
        rec = Recorder(spark, trace=bool(args.trace))
        wl = Workload(spark, sf_dir, rec, args.seed, args.seconds, args.smoke,
                      os.path.join(run_dir, "out"), oracle_utils)
        steal_wl = _steal_s()
        getattr(wl, args.workload)()
        clock.lap("workload")
        host["steal_workload_s"] = round(_steal_s() - steal_wl, 2)
        # -- everything below is outside the timed region --
        rec.close()
        run = wl.out
        timed = [c for c in rec.calls if c.pass_no >= 0]
        if args.trace:
            rec.resolve()
        clock.lap("status_store")
        bad = check(run, sf_dir, oracle_utils)
        clock.lap("check")
        host["probes_end"] = _probes(spark, sf_dir)
        clock.lap("probes_end")
        peak_kb = _vm_hwm_kb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        host["steal_s"] = round(_steal_s() - steal0, 2)
    finally:
        _shutdown(spark)
    clock.lap("shutdown")

    calls = rec.calls
    failed = [c for c in calls if c.error or c.name in bad]
    walls = [c.wall_s for c in timed]
    cpus = [c.cpu_s for c in timed]
    timing = {
        "wall_s": statistics.median(run.pass_walls),
        "call_p50_s": _quantile(walls, 0.5),
        "call_p90_s": _quantile(walls, 0.9),
        "call_cpu_p50_s": _quantile(cpus, 0.5),
        "call_cpu_p90_s": _quantile(cpus, 0.9),
    }
    passes = len(run.pass_walls)
    if args.trace:
        extra = {"session.start_s": statistics.median(start)}
        mr = [c.wall_s for c in timed if c.name == "run_config"]
        if mr:
            extra["mrlite.job.input_mb_per_s"] = (
                run.corpus_bytes / 1e6 / statistics.median(mr)
            )
        metrics = layer_metrics(timed, passes, cores, extra)
        spec = [(name, unit) for name, unit, _ in per_layer_spec()]
    else:
        metrics = {
            "setup_s": statistics.median(setup),
            "cpu_s": statistics.median(run.pass_cpu),
            "peak_rss_mb": peak_kb / 1024,
        }
        spec = list(END_TO_END)
    coverage = min(
        (sum(c.phases.values()) / c.wall_s for c in timed if c.wall_s > 0), default=1.0
    )
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "smoke": args.smoke,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "host": host,
        "setup_cpu_s": setup,
        "setup_wall_s": setup_wall,
        "session_start_s": start,
        "passes": passes,
        "pass_walls_s": run.pass_walls,
        "pass_cpu_s": run.pass_cpu,
        "timing": timing,
        "call_samples": len(walls),
        "failed_ratio": len(failed) / len(calls) if calls else 1.0,
        "failed_names": sorted({c.name for c in failed}),
        "errors": {c.name: c.error for c in calls if c.error},
        "phase_coverage_min": coverage,
        "run_phases_s": clock.laps,
        "metrics": metrics,
        "calls": [
            {"name": c.name, "layer": c.layer, "pass": c.pass_no,
             "wall_s": c.wall_s, "cpu_s": c.cpu_s, "phases": c.phases, "jobs": c.jobs}
            for c in calls
        ],
    }
    os.makedirs(os.path.join(OUT, "records"), exist_ok=True)
    stem = os.path.join(OUT, "records", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "spans": spans(calls)}, f, default=str)
    print(json.dumps({"host": host, "failed_names": record["failed_names"],
                      **timing, "record": os.path.relpath(stem + ".json", ROOT)}))
    return {
        "correct": not failed,
        "attempted": len(calls),
        "failed": len(failed),
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in spec},
    }


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _args(argv)
    if not (os.path.isfile(PACKAGE) and os.path.isfile(ORACLE_UTILS)):
        print(f"perfbench: engine package or oracle helpers missing under {ROOT}",
              file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inherited = _isolate(run_dir, cores)
    sys.path.insert(0, ROOT)
    try:
        result = bench(args, run_dir, cores, inherited)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
