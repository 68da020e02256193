"""Round-17 ADVICE fixes (r14 ADVICE.md), one test per item.

Item 1 (the missing BENCH_FULL_r14.json snapshot) is gated by the
existing round-open tests — test_bench_contract.py::
test_bench_resolver_returns_current_round and test_round16_fixes.py::
test_round_open_snapshot_exists_for_newest_artifact — which went green
when the round-open checklist landed the snapshot; no new test needed.
"""

from __future__ import annotations

import glob
import json
import os
import tempfile

import pytest

from inf2106_map_reduce_spark import session
from inf2106_map_reduce_spark.streaming import versioned
from inf2106_map_reduce_spark.streaming import windows as stream_windows


def _frag_dirs() -> set[str]:
    return set(
        glob.glob(os.path.join(tempfile.gettempdir(), "upsert_frag_*"))
    )


def test_compaction_staging_removes_frag_dirs(spark, sf_oracle):
    """r14 ADVICE item 2: _compacted_grouped_tree staged a
    tempfile.mkdtemp('upsert_frag_') per (version, group) partition and
    never removed it — temp dirs accumulated for the session lifetime.
    A fresh staging pass must leave zero new frag dirs behind (the
    accounting it needs — frag_files / frag_bytes — is captured before
    the cleanup)."""
    key = ("compacted_tree", sf_oracle)
    session._cache_entries.pop(key, None)
    before = _frag_dirs()
    compact_root, meta = stream_windows._compacted_grouped_tree(
        spark, sf_oracle
    )
    assert meta, "staging produced no partitions — fixture broken"
    leaked = _frag_dirs() - before
    assert not leaked, f"staging leaked frag dirs: {sorted(leaked)}"
    # the durable compacted tree is intact after the cleanup
    assert glob.glob(
        os.path.join(compact_root, "v=*", "g=*", "*.parquet")
    )


def test_compaction_stage_asserts_the_oracle_files_after_bound(
    spark, sf_oracle, monkeypatch
):
    """r14 ADVICE item 3: the DuckDB oracle pins files_after to the
    literal 1, valid only while staged partition bytes stay under the
    128 MB target. The staging helper now asserts that bound at STAGE
    time with a message naming the oracle — shrinking the target below
    any real partition's size must raise there, not surface later as an
    inscrutable value-hash mismatch."""
    key = ("compacted_tree", sf_oracle)
    session._cache_entries.pop(key, None)
    monkeypatch.setattr(versioned, "COMPACT_TARGET_BYTES", 1)
    before = _frag_dirs()
    with pytest.raises(AssertionError, match="_grouped_compaction_oracle"):
        stream_windows._compacted_grouped_tree(spark, sf_oracle)
    # the error path cleans its own staging dir too
    assert _frag_dirs() == before
    # the poisoned run must not be cached
    assert key not in session._cache_entries


def test_snapshot_resolver_tolerates_tail_float_reformatting():
    """r14 ADVICE item 4: _snapshot_payload_for compared tail timings
    to the snapshot with EXACT float equality — any future change to
    the driver's tail float formatting would silently disqualify every
    snapshot and walk the resolver back a round. Within half-an-ulp of
    bench.py's printed 3-decimal precision the snapshot must still
    resolve; a genuinely different run's numbers must still be
    rejected."""
    from test_bench_contract import _snapshot_payload_for

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_FULL_r14.json")) as f:
        full = json.load(f)
    items = [
        (k, v)
        for k, v in full["queries"].items()
        if k not in ("dedup_stage_build",)
    ][:8]

    def tail_for(perturb: float, fmt: str = "{:.4f}") -> str:
        return (
            "{"
            + ", ".join(
                f'"{k}": {fmt.format(v + perturb)}' for k, v in items
            )
            + "}"
        )

    # reformatted (4 decimals, +2e-4 rounding jitter): still this run
    path, snap = _snapshot_payload_for(root, "r14", tail_for(2e-4))
    assert snap is not None and snap["n_queries"] == full["n_queries"]
    # a different run's numbers (1% shift) must not resolve
    path, snap = _snapshot_payload_for(
        root, "r14", tail_for(0.05, "{:.3f}")
    )
    assert snap is None


def test_oracle_for_renders_binaryfile_glob_at_the_requested_sf():
    """r15 fix: the static oracle_sql() contract pins the binaryFile
    oracle's read_blob glob to the GATE SF (read_blob takes a
    filesystem path, not a registered view), so cross-scale local
    verification must re-render it for the SF under test — without
    this, a sf0.001 harness hashes sf0.01's files against an sf0.001
    run (caught by the r15 round-close sf0.001 driver-sim sweep:
    oracle read documents.parquet at 65,049 bytes where the sf0.001
    file is 65,515)."""
    from inf2106_map_reduce_spark.queries import REGISTRY, oracle_for

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.1"):
        o = oracle_for("source_binaryfile_ingest", sf)
        assert f"{sf}/*.parquet" in o
    # the driver-facing static contract stays pinned to the gate SF
    assert "/root/testdata/sf0.01/*.parquet" in (
        REGISTRY["source_binaryfile_ingest"].oracle
    )
