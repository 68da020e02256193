from __future__ import annotations

import os

import pytest

from inf2106_map_reduce_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="inf2106-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE


@pytest.fixture
def cold_session_cache(monkeypatch):
    """An empty ``session_cache`` store for one test, so a registry
    call builds every staged input itself; the shared session's warm
    entries come back afterwards."""
    from inf2106_map_reduce_spark import session

    monkeypatch.setattr(session, "_cache_entries", {})
