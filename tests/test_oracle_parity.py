"""t2 correctness: every registry query hash-matches its DuckDB oracle
at sf0.01 (mirrors the driver's CORRECTNESS gate: row count + schema +
order-insensitive exact values)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from inf2106_map_reduce_spark import queries as q
from inf2106_map_reduce_spark.queries import REGISTRY, oracle_for

from tests.oracle_utils import assert_matches_oracle, duckdb_connection

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)


@pytest.fixture(scope="module")
def con(sf_oracle):
    c = duckdb_connection(sf_oracle)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_oracle, con, name):
    spec = REGISTRY[name]
    df = spec.fn(spark, sf_oracle)
    assert_matches_oracle(df, con, oracle_for(name, sf_oracle))


@pytest.fixture(scope="module")
def ansi_spark(spark):
    """The engine session with ANSI mode ON — the driver runs a vanilla
    SparkSession where ANSI is the Spark 4 default, while session.py
    pins it off; ANSI-only bugs (e.g. a sum-of-xxhash64 long overflow
    that wraps silently when off but raises when on) otherwise surface
    only in the hand-run driver-sim. ``ansi.enabled`` is a runtime
    conf, so flipping it on the shared session is exact."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.mark.ansi
@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle_ansi(ansi_spark, sf_oracle, con, name):
    """The full parity suite, ANSI-on (`pytest -m ansi`) — excluded
    from the default run (pytest.ini addopts) because it doubles the
    suite; part of the pre-driver round ritual."""
    spec = REGISTRY[name]
    df = spec.fn(ansi_spark, sf_oracle)
    assert_matches_oracle(df, con, oracle_for(name, sf_oracle))


def test_every_registry_entry_has_an_oracle():
    missing = sorted(n for n, s in REGISTRY.items() if s.oracle is None)
    assert not missing, f"registry entries without a DuckDB oracle: {missing}"


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 30


def test_registry_order_is_sorted_names(tmp_path):
    # a fresh import from an unrelated cwd, with the retired round
    # override set, must still yield the sorted order: nothing in the
    # environment or the repo root may reorder the registry
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import json; "
        "from inf2106_map_reduce_spark import queries as q; "
        "print(json.dumps([list(q.REGISTRY), list(q.queries())]))"
    )
    env = dict(os.environ, SPARK_GRAFT_ROUND="7", PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", code],
        env=env,
        capture_output=True,
        text=True,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr
    registry_order, queries_order = json.loads(out.stdout)
    assert registry_order == sorted(REGISTRY)
    assert queries_order == sorted(REGISTRY)


def test_oracle_for_renders_sf_matched_kmeans_unroll():
    # trajectory length is a constant of the DATASET: the local-harness
    # oracle must unroll 13 rounds at sf0.001 vs 19 at sf0.01, and the
    # static driver contract must equal the gate-SF rendering
    o001 = q.oracle_for("kmeans_converged", "/root/testdata/sf0.001")
    o01 = q.oracle_for("kmeans_converged", "/root/testdata/sf0.01")
    assert "AS rounds" in o001 and "AS rounds" in o01
    assert o001 != o01
    assert "13" in o001 and "19" in o01
    assert q.REGISTRY["kmeans_converged"].oracle == o01
    # every other entry passes through unchanged
    assert q.oracle_for("q1_pricing_summary", "/root/testdata/sf0.001") == (
        q.REGISTRY["q1_pricing_summary"].oracle
    )


def test_oracle_for_renders_sf_matched_kcore_unroll():
    # peel-round count is a dataset constant; all measured SFs happen
    # to peel once, so the rendered oracles are identical today — the
    # contract is that rendering goes through the per-SF table and the
    # driver's static oracle equals the gate-SF rendering
    o001 = q.oracle_for("docs_kcore_neardup", "/root/testdata/sf0.001")
    o01 = q.oracle_for("docs_kcore_neardup", "/root/testdata/sf0.01")
    assert "AS rounds" in o001 and "AS rounds" in o01
    assert q.REGISTRY["docs_kcore_neardup"].oracle == o01
    with pytest.raises(KeyError):
        q.oracle_for("docs_kcore_neardup", "/root/testdata/sf9.9")
