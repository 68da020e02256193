"""session_cache: the engine's one per-application memo, driven with a
fake session so no test here starts a JVM."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.session import session_cache


def _fake(app_id: str) -> SimpleNamespace:
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture
def fake_spark(monkeypatch):
    """A fake session plus an empty store, restored afterwards so the
    shared test session's real entries survive this module."""
    monkeypatch.setattr(session, "_cache_app_id", None)
    monkeypatch.setattr(session, "_cache_entries", {})
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
