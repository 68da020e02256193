"""session_cache and scratch_dir: the engine's per-application memo
and scratch root, driven with a fake session so no test here starts a
JVM."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
from types import SimpleNamespace

import pytest

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.session import scratch_dir, session_cache


def _fake(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def fake_spark(monkeypatch):
    """A fake session plus an empty store and no scratch root, restored
    afterwards so the shared test session's real entries and scratch
    root survive this module."""
    monkeypatch.setattr(session, "_cache_app_id", None)
    monkeypatch.setattr(session, "_cache_entries", {})
    monkeypatch.setattr(session, "_scratch_root", None)
    return _fake("app-1")


def test_build_runs_once_per_key_and_none_is_a_hit(fake_spark):
    calls: list[str] = []

    def build(tag, value):
        def run():
            calls.append(tag)
            return value

        return run

    assert session_cache(fake_spark, ("a", "sf"), build("a", 1)) == 1
    assert session_cache(fake_spark, ("a", "sf"), build("a", 2)) == 1
    assert session_cache(fake_spark, ("b", "sf"), build("b", None)) is None
    assert session_cache(fake_spark, ("b", "sf"), build("b", 3)) is None
    assert calls == ["a", "b"]


def test_raising_build_stores_nothing(fake_spark):
    def boom():
        raise RuntimeError("stage failed its bound")

    with pytest.raises(RuntimeError, match="bound"):
        session_cache(fake_spark, ("stage", "sf"), boom)
    assert ("stage", "sf") not in session._cache_entries
    assert session_cache(fake_spark, ("stage", "sf"), lambda: "ok") == "ok"


def test_new_application_is_a_miss_and_drops_old_entries(fake_spark):
    session_cache(fake_spark, ("a", "sf"), lambda: "old-a")
    session_cache(fake_spark, ("b", "sf"), lambda: "old-b")
    fake_spark.sparkContext.applicationId = "app-2"
    assert session_cache(fake_spark, ("a", "sf"), lambda: "new-a") == "new-a"
    assert session._cache_entries == {("a", "sf"): "new-a"}


def test_new_application_removes_old_scratch_root(
    fake_spark, monkeypatch, tmp_path
):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sink = scratch_dir(fake_spark, "stream_sink_")
    dlq = scratch_dir(fake_spark, "dlq_good_")
    root = os.path.dirname(sink)
    assert os.path.dirname(dlq) == root != str(tmp_path)
    assert os.path.basename(sink).startswith("stream_sink_")
    with open(os.path.join(sink, "part-0.parquet"), "w") as f:
        f.write("rows")
    fake_spark.sparkContext.applicationId = "app-2"
    session_cache(fake_spark, ("a", "sf"), lambda: "new-a")
    assert not os.path.exists(root)
    fresh = scratch_dir(fake_spark, "stream_sink_")
    assert os.path.isdir(fresh) and os.path.dirname(fresh) != root


def test_scratch_root_is_removed_at_interpreter_exit(tmp_path):
    code = (
        "from types import SimpleNamespace as N\n"
        "from inf2106_map_reduce_spark.session import scratch_dir\n"
        "s = N(sparkContext=N(applicationId='app-1'))\n"
        "print(scratch_dir(s, 'stream_sink_'))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    sink = out.stdout.strip()
    assert sink.startswith(str(tmp_path)), out
    assert os.listdir(tmp_path) == []
