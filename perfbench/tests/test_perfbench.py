"""The benchmark's own checks, in smoke mode (sf0.001 tables, a tiny
corpus, one pass per workload).

    python3 -m pytest perfbench/tests -q

Each workload runs once untraced and twice traced with the same seed:
every metric named in BENCHMARK.json must print with its unit, the span
file must parse, and the two traced runs must count the same jobs,
tasks, micro-batches and shuffle records.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SEED = 7


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _bench(workload: str, trace: int) -> dict:
    out = _run(ROOT, "--workload", workload, "--seed", str(SEED), "--seconds", "1",
               "--trace", str(trace), "--smoke")
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def runs(request):
    w = request.param
    return w, _bench(w, 0), _bench(w, 1), _bench(w, 1)


def _assert_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in spec]
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))


def test_every_metric_prints_with_its_unit(runs):
    _, plain, traced, _ = runs
    _assert_metrics(plain, SPEC["end_to_end"])
    for m in SPEC["end_to_end"]:
        assert plain["metrics"][m["name"]]["value"] > 0, m["name"]
    _assert_metrics(traced, SPEC["per_layer"])


def test_trace_file_parses_and_phases_cover_each_call(runs):
    workload = runs[0]
    stem = os.path.join(ROOT, ".perfbench", "records", f"{workload}-seed{SEED}-trace1")
    with open(stem + ".spans.json") as f:
        spans = json.load(f)["spans"]
    calls = [s for s in spans if s["kind"] == "call"]
    assert calls and {s["kind"] for s in spans} >= {"call", "job", "stage"}
    for c in calls:
        phases = [s for s in spans if s["parent"] == c["id"] and "jobs" in s]
        assert sum(p["dur_ms"] for p in phases) >= 0.95 * c["dur_ms"], c["name"]
    with open(stem + ".json") as f:
        record = json.load(f)
    assert record["host"]["probes_start"] and record["host"]["probes_end"]


def test_traced_counts_repeat(runs):
    _, _, first, second = runs
    keys = [
        k for k in first["metrics"]
        if k.endswith((".jobs", ".tasks"))
        or k in ("streaming.microbatches", "mrlite.job.shuffle_records")
    ]
    assert {k: first["metrics"][k]["value"] for k in keys} == {
        k: second["metrics"][k]["value"] for k in keys
    }


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
