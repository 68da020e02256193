"""bench.py contract: its name lists must track the live registry —
stale names silently skip warmups (re-charging first-touch costs to
unlucky queries) or drop headline entries from the driver-visible
line."""

from __future__ import annotations

import bench
from inf2106_map_reduce_spark.queries import REGISTRY


def test_warmup_names_exist():
    missing = [n for n in bench.WARMUP if n not in REGISTRY]
    assert not missing, missing


def test_headline_names_exist():
    known = set(REGISTRY) | set(bench.PSEUDO_STAGES)
    missing = [n for n in bench.HEADLINE if n not in known]
    assert not missing, missing


def test_stage_build_is_timed_and_consumers_exist():
    # the pseudo-line only makes sense while the six stage-cache
    # consumers are registry entries; if they're renamed, re-audit the
    # attribution story
    assert "dedup_stage_build" in bench.HEADLINE
    for consumer in (
        "dedup_minhash_candidates",
        "dedup_ngram_jaccard",
        "dedup_clusters",
        "dedup_clusters_star",
        "dedup_canonical_corpus",
        "docs_pagerank_neardup",
    ):
        assert consumer in REGISTRY, consumer


def test_all_streaming_queries_are_warmed():
    # each Structured Streaming plan pays its own first-touch cost; a
    # streaming entry missing from WARMUP gets billed ~1-2 s of setup
    streaming = {n for n in REGISTRY if n.startswith("streaming_")}
    assert streaming <= set(bench.WARMUP)


# -- calibration-normalized regression gate ---------------------------------
#
# BASELINE.md r06: identical code measured 74.5 s vs 139-348 s across
# host-weather windows, so raw s/q cannot gate anything. bench.py
# emits calibration_sec (median of 5 fixed range-sum runs — moves with
# the host, never with this repo's code); the gate divides by it.

#: r07 reference point: calibration 0.107 s on the host where the
#: 203-entry tree measured 0.752 s/q (within 1.05x of the r01 anchor).
CALIBRATION_ANCHOR = 0.107
HARD_GATE_S_PER_Q = 1.43  # 2x the 0.713 r01 anchor (BASELINE.md)
TARGET_S_PER_Q = 0.80


def _snapshot_payload_for(root, round_tag: str, tail: str):
    """The round-open snapshot ``BENCH_FULL_{round_tag}.json`` (the
    round-open checklist copies the driver's ``BENCH_FULL.json`` there
    before any in-round bench overwrites it), cross-checked against
    the driver's tail: every per-query timing parseable from the tail
    must match the snapshot exactly, or the snapshot is not this
    round's payload and must not gate."""
    import json
    import os
    import re

    path = os.path.join(root, f"BENCH_FULL_{round_tag}.json")
    try:
        with open(path) as f:
            full = json.load(f)
    except (OSError, json.JSONDecodeError):
        return None, None
    if not (full.get("calibration_sec") and full.get("n_queries")):
        return None, None
    qmap = full.get("queries") or {}
    pairs = re.findall(r'"([a-z0-9_]+)": ([0-9.]+)[,}]', tail)
    # tolerance, not exact float equality (r14 ADVICE): a future
    # change to the driver's tail float FORMATTING (rounding or
    # truncation at print time) must not silently disqualify every
    # snapshot and walk the resolver back a round — bench.py rounds
    # timings to 3 decimals, so half an ulp at that precision
    # (5e-4) separates "same measurement reformatted" from "a
    # different run's numbers"
    TOL = 5e-4
    matched = [
        k for k, v in pairs if k in qmap and abs(float(v) - qmap[k]) <= TOL
    ]
    mismatched = [
        k for k, v in pairs if k in qmap and abs(float(v) - qmap[k]) > TOL
    ]
    if mismatched or len(matched) < 5:
        return None, None
    return path, full


def _latest_driver_bench():
    """Newest driver bench artifact with a usable payload.

    r13 verdict finding #1: the driver truncates the r12/r13 `tail`
    mid-payload, so the `{"metric"` regex never matches and the old
    resolver silently walked back to BENCH_r11 — the gates tested a
    two-round-old artifact. A truncated round now resolves through
    its round-open snapshot (``BENCH_FULL_r{N}.json``), validated
    against the tail; the snapshot is also PREFERRED when the tail
    does parse, because it carries the full per-query map in loop
    order (the printed line carries only the headline subset)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(root, "BENCH_r*.json")))
    for path in reversed(arts):
        # only round artifacts: the glob also matches side runs such as
        # BENCH_r16_c8.json (8-core scaling) and BENCH_r05code_reweather.json
        tag_m = re.search(r"BENCH_(r\d+)\.json$", path)
        if not tag_m:
            continue
        try:
            with open(path) as f:
                wrapper = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # the driver wraps bench.py's one-line JSON inside `tail`
        tail = wrapper.get("tail") or ""
        snap_path, snap = _snapshot_payload_for(root, tag_m.group(1), tail)
        if snap is not None:
            return snap_path, snap
        m = re.search(r'\{"metric".*\}', tail)
        if not m:
            continue
        payload = json.loads(m.group(0))
        if payload.get("calibration_sec") and payload.get("n_queries"):
            return path, payload
    return None, None


def test_bench_resolver_returns_current_round():
    """Pin the r13 finding closed: the resolver must gate the NEWEST
    round's artifact, never silently walk back (it returned
    BENCH_r11.json before this fix, because the r12/r13 tails are
    truncated and no fallback existed)."""
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    arts = sorted(glob.glob(os.path.join(root, "BENCH_r*.json")))
    newest = max(
        int(m.group(1))
        for m in (re.search(r"BENCH_r(\d+)\.json$", p) for p in arts)
        if m  # the glob also matches e.g. BENCH_r05code_reweather.json
    )
    path, payload = _latest_driver_bench()
    assert payload is not None
    got = int(re.search(r"_r(\d+)\.json$", path).group(1))
    assert got == newest, (
        f"resolver gates round {got}, newest artifact is round {newest}"
    )
    # the r13 payload resolves through the snapshot with the full map
    assert payload["n_queries"] >= 243


def test_normalized_bench_gate():
    import pytest

    path, payload = _latest_driver_bench()
    if payload is None:
        pytest.skip("no driver bench artifact with calibration yet")
    raw_spq = payload["value"] / payload["n_queries"]
    # weather-adjust to the r07 reference host: a 2x-slower host halves
    # the denominator's meaning, so scale by anchor/actual
    adjusted_spq = raw_spq * (CALIBRATION_ANCHOR / payload["calibration_sec"])
    assert adjusted_spq <= HARD_GATE_S_PER_Q, (
        f"{path}: adjusted {adjusted_spq:.3f} s/q breaches the hard gate "
        f"(raw {raw_spq:.3f}, calibration {payload['calibration_sec']})"
    )
    # the 0.80 target is directional, not a hard invariant — surface it
    # without failing the suite
    if adjusted_spq > TARGET_S_PER_Q:
        import sys

        print(
            f"[bench-gate] {path}: adjusted {adjusted_spq:.3f} s/q above "
            f"the {TARGET_S_PER_Q} target (raw {raw_spq:.3f})",
            file=sys.stderr,
        )


# -- refreshed per-query anchors (r09 driver run, BASELINE.md) --------------
#
# The round-1 headline rows drifted 2-4x above current reality after
# nine rounds of optimization, so gating against them would let a real
# 2x regression "pass" (r09 verdict item #6). These are the r09 driver
# full-bench rows (BENCH_FULL.json: 222 q / 177.79 s, calibration
# 0.127); both sides are weather-adjusted to the 0.107 reference host
# before comparing.

R09_ANCHOR_CAL = 0.127
#: raw r09 driver seconds per headline query at calibration 0.127
PER_QUERY_ANCHORS = {
    "q1_pricing_summary": 0.402,
    "q3_shipping_priority": 0.566,
    "q5_local_supplier_volume": 0.547,
    "dedup_stage_build": 5.645,
    "dedup_minhash_candidates": 0.123,
    "dedup_ngram_jaccard": 0.061,
    "dedup_prefix_jaccard": 4.025,
    "dedup_embedding_cosine": 1.325,
    "dedup_semantic": 2.640,
    "ann_brute_force": 0.632,
    "ann_lsh": 1.070,
    "ann_ivf": 0.858,
    "emb_nn_join": 2.311,
    "agg_stats_battery": 1.854,
    "bucketed_orders_lineitem_join": 0.542,
    "streaming_tumbling_hourly": 0.993,
    "streaming_neardup_ingest": 3.603,
    # the r09 row carries first-stream session init (warm median is
    # 1.555, SCALING.md) — anchoring at the driver-protocol number
    "streaming_user_stats_stateful": 2.453,
    "orders_bootstrap_ci": 2.154,
    "text_stats": 0.812,
}

# r16 refresh (r13 verdict item #8): the 20 r09 rows cover a
# 264-entry registry whose heaviest classes didn't exist in r09 — a
# real regression in the current top of the cost distribution could
# not gate. These are the r13 DRIVER artifact rows
# (BENCH_FULL_r13.json: 264 q / 282.673 s, calibration 0.099) for the
# classes that now dominate the tail; same weather-adjusted 2x rule.
R13_ANCHOR_CAL = 0.099
#: raw r13 driver seconds at calibration 0.099
PER_QUERY_ANCHORS_R13 = {
    # the grouped K = 3 booster — the heaviest model-stack class
    "lineitem_status_quantile_gbt3": 5.77,
    # the mutating partition-scoped drain + per-(group, version) audit
    "streaming_upsert_group_retention": 5.822,
    # applyInPandasWithState over a multi-micro-batch span stream
    "streaming_session_timeout": 6.436,
    # re-anchor at current reality (the r09 row predates four rounds
    # of stage growth; 5.645 -> 5.749 raw at a faster calibration)
    "dedup_stage_build": 5.749,
    # the grouped 2-stage trainer and tree — the mid-heavy model rows
    "lineitem_status_quantile_gbt": 4.384,
    "lineitem_status_quantile_tree": 3.613,
}

# r17 refresh (r14 verdict item #3): the r14 driver run showed a 4x
# swing across the documents-scan family (loop positions ~60-105,
# bracketed by the run's worst probe) that NO existing anchor could
# see — docs_bm25_topk read 1.0 -> 5.2 s with zero code diffs and no
# gate fired. Anchor the family at its r13 DRIVER lines
# (BENCH_FULL_r13.json: 264 q / 282.673 s, calibration 0.099), which
# the round-17 settle protocol re-confirmed as the rows' true lines
# (BASELINE.md round-17 open: fresh-session warm reads at/below every
# one of these). Same weather-adjusted 2x rule; sub-second rows gate
# at the 1.0 s floor.
#: raw r13 driver seconds at calibration 0.099 (R13_ANCHOR_CAL)
PER_QUERY_ANCHORS_R14 = {
    "docs_bm25_topk": 0.998,
    "docs_bigram_logprob": 2.248,
    "docs_chunk_dedup": 1.308,
    "docs_boilerplate": 0.899,
    # re-anchor at current reality: the r09 row (2.640) predates four
    # rounds of corpus/stage growth on the semantic-dedup path
    "dedup_semantic": 2.992,
    "dedup_simhash64_pairs": 1.455,
    # sub-second row — gates at the 1.0 s floor, which the r14 run's
    # 1.57 s reading would have tripped
    "source_binaryfile_ingest": 0.216,
}

#: sub-second entries swing ±25%+ run-to-run; only adjusted times
#: above this floor can gate, so noise on a 0.06 s row never fails
PER_QUERY_GATE_FLOOR_S = 1.0

#: Per-ARTIFACT rows formally breaching the gate but closed as
#: weather by the settle protocol (BASELINE.md: git log -L shows zero
#: code diffs on the path since the anchor run, AND a fresh-session
#: re-measure with probes on both sides reads inside the gate). Keyed
#: by (round tag, query) so a closure never carries to the NEXT
#: artifact — if the same row breaches again it fails normally and
#: must be either fixed or re-settled with new evidence. Each value
#: cites the evidence record.
WEATHER_SETTLED = {
    ("r13", "dedup_embedding_cosine"): (
        "judge-run settle protocol, VERDICT.md r13 / BASELINE.md "
        "round-16 open: zero diffs on functions/dedup.py:1496 since "
        "the r12 bench; fresh-session first-touch 2.107 s -> adjusted "
        "1.83 INSIDE the 2.233 gate, warm 0.36-0.61 s (probes cpu "
        "0.111-0.123, scan 0.195-0.214); closed going forward by the "
        "bench.py WARMUP pre-warm"
    ),
    # r14's three `weak` rows (VERDICT.md r14), all closed by the
    # round-17 settle run (BASELINE.md round-17 open; tools/
    # settle_r15.py, fresh session, probes both sides: before cpu
    # 0.237 / scan 0.352 — a stall window — after cpu 0.113 / scan
    # 0.191): zero code diffs on every path (git log -L: retrieval.py
    # BM25 last touched pre-r10, pipeline.py bigram pre-r10,
    # roundtrip.py binaryFile pre-r09).
    ("r14", "docs_bm25_topk"): (
        "settle run (BASELINE.md round-17 open): warm 0.959-1.215 s "
        "== its 0.998 r13 line (it is a bench.py WARMUP entry, so the "
        "driver times the warm plan); the 5.23 s driver reading sat "
        "in the position-50-105 window bracketed by the run's worst "
        "probe 0.176"
    ),
    ("r14", "docs_bigram_logprob"): (
        "settle run (BASELINE.md round-17 open): first-touch 3.72 s, "
        "warm 1.418-2.217 s vs its 2.248 r13 line — at/below the "
        "line; same stall-window position class as docs_bm25_topk"
    ),
    ("r14", "source_binaryfile_ingest"): (
        "settle run (BASELINE.md round-17 open): first-touch 0.295 s, "
        "warm 0.150-0.165 s vs its 0.216 r13 line — the 1.57 s "
        "driver reading does not reproduce; the path stages nothing "
        "(reads sf_dir/*.parquet via binaryFile directly), so there "
        "is no layout cost to move into WARMUP"
    ),
}


def test_weather_settled_rows_cite_existing_artifacts():
    import glob
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rounds = {
        m.group(1)
        for m in (
            re.search(r"BENCH_(r\d+)\.json$", p)
            for p in glob.glob(os.path.join(root, "BENCH_r*.json"))
        )
        if m  # the glob also matches e.g. BENCH_r05code_reweather.json
    }
    for (tag, name), evidence in WEATHER_SETTLED.items():
        assert tag in rounds, (tag, name)
        assert (
            name in PER_QUERY_ANCHORS
            or name in PER_QUERY_ANCHORS_R13
            or name in PER_QUERY_ANCHORS_R14
        ), name
        assert "BASELINE.md" in evidence, (tag, name)


def test_per_query_anchor_gate():
    """A per-query breach must hold across the run's whole RECORDED
    weather interval, not just at the probe mean.

    Why (r11 evidence, BASELINE.md): bench.py times the registry in
    sorted order over a multi-minute run and probes weather only at
    the endpoints; the r11 driver probes recorded weather worsening
    31% DURING the run (CPU 0.174 -> 0.228). A query's true
    calibration is therefore anywhere in [min(probes), max(probes)] —
    adjusting a late-running query by the MEAN under-corrects it by up
    to half the drift. That misattribution alone produced the r11 red:
    `streaming_tumbling_hourly` (alphabetically late, code untouched
    since r7) read adjusted 1.724 at the mean probe 0.201 vs gate
    1.673, but 1.520 at the end probe 0.228 — and re-measured 0.87-
    0.92 s under neutral CPU weather (cal 0.09-0.127, 2026-08-16),
    exactly its r07-r10 line. Gating at max(probes) is NOT a widened
    threshold: with stable weather (equal probes) it is the identical
    rule, and it relaxes only by the drift the probes themselves
    measured — a real 2x code regression (100% signal vs <=31%
    recorded drift) still fails. A two-axis CPU+scan blend was
    considered and rejected with arithmetic: the r11 scan ratio
    (0.268/0.1525 = 1.76x) is SMALLER than the CPU ratio (1.88x), so
    any convex blend of the axes adjusts LESS than CPU-only and cannot
    explain the residual; intra-run drift can and is directly
    recorded."""
    import pytest

    path, payload = _latest_driver_bench()
    if payload is None:
        pytest.skip("no driver bench artifact with calibration yet")
    cal = payload["calibration_sec"]
    # the most code-favorable calibration consistent with the recorded
    # run: the worst endpoint probe (falls back to the mean scalar for
    # pre-r10 artifacts that carry no probe list)
    probes = payload.get("calibration_probes") or [cal]
    cal_hi = max(probes)
    # r15 refinement (r12 ADVICE): with mid-run probes recorded
    # (calibration_probe_positions, bench.py probes every ~50 timed
    # queries), a query is bracketed by its OWN segment's probe pair —
    # the gate's code-favorability shrinks from the whole-run drift
    # (1.7x in r12) to the local segment's. r16 fix (r13 ADVICE):
    # probe positions were recorded against the ARTIFACT's registry,
    # not the current one — an entry added/removed since the artifact
    # shifts every later name's rank and silently brackets those
    # queries with the wrong segment. The artifact's own loop order is
    # recoverable exactly when the payload carries the FULL timing map
    # (the BENCH_FULL snapshot: bench.py inserts timings in loop
    # order and JSON preserves it — pseudo stages first, then the
    # sorted-registry loop); headline-only payloads (HEADLINE-tuple
    # order, not loop order) and pre-r15 artifacts fall back to the
    # global worst probe, per the documented whole-run rule.
    positions = payload.get("calibration_probe_positions")
    artifact_loop = [
        n for n in payload["queries"] if n not in bench.PSEUDO_STAGES
    ]
    if len(artifact_loop) != payload["n_queries"]:
        artifact_loop = []  # headline subset — loop order unknowable

    def _cal_hi_for(name: str) -> float:
        if not positions or len(positions) != len(probes):
            return cal_hi
        if name in bench.PSEUDO_STAGES:
            p = 0  # the stage build runs right after the start probe
        elif name in artifact_loop:
            p = artifact_loop.index(name)
        else:
            return cal_hi

        for i in range(len(positions) - 1):
            if positions[i] <= p < positions[i + 1]:
                return max(probes[i], probes[i + 1])
        return max(probes[-2:]) if len(probes) >= 2 else cal_hi

    import re

    round_tag_m = re.search(r"_r(\d+)\.json$", path)
    round_tag = f"r{round_tag_m.group(1)}" if round_tag_m else ""
    # two anchor cohorts, each weather-adjusted at ITS OWN recorded
    # calibration; a name in both gates at the NEWER (r13) anchor
    anchored = {
        name: (raw, R09_ANCHOR_CAL)
        for name, raw in PER_QUERY_ANCHORS.items()
    }
    anchored.update(
        (name, (raw, R13_ANCHOR_CAL))
        for name, raw in PER_QUERY_ANCHORS_R13.items()
    )
    # the r14 cohort is also measured at the r13 driver calibration
    # (its raw lines come from BENCH_FULL_r13.json) and wins on overlap
    anchored.update(
        (name, (raw, R13_ANCHOR_CAL))
        for name, raw in PER_QUERY_ANCHORS_R14.items()
    )
    breaches = []
    for name, (anchor_raw, anchor_cal) in anchored.items():
        got = payload["queries"].get(name)
        if got is None:
            continue  # truncated tail payloads carry only a subset
        if (round_tag, name) in WEATHER_SETTLED:
            continue  # closed with recorded settle evidence (above)
        adj = got * (CALIBRATION_ANCHOR / _cal_hi_for(name))
        anchor_adj = anchor_raw * (CALIBRATION_ANCHOR / anchor_cal)
        gate = max(2 * anchor_adj, PER_QUERY_GATE_FLOOR_S)
        if adj > gate:
            breaches.append(
                f"{name}: adjusted {adj:.3f} > gate {gate:.3f} "
                f"(raw {got}, anchor {anchor_raw}, cal interval "
                f"{payload.get('calibration_probes')})"
            )
    assert not breaches, f"{path}: " + "; ".join(breaches)


def test_anchor_names_exist_in_registry():
    known = set(REGISTRY) | set(bench.PSEUDO_STAGES)
    missing = [
        n
        for n in list(PER_QUERY_ANCHORS)
        + list(PER_QUERY_ANCHORS_R13)
        + list(PER_QUERY_ANCHORS_R14)
        if n not in known
    ]
    assert not missing, missing


def test_printed_payload_survives_the_capture_bound():
    """r16 (r15 VERDICT): the one-line JSON must fit the driver's
    stdout-tail capture with margin — r14's 81-entry line truncated
    into ``"parsed": null`` and nulled the round comparison. Build the
    payload exactly as bench.main() does, with worst-case-width
    values, and bound the rendered line."""
    import json

    queries = {k: 999.999 for k in bench.HEADLINE}
    payload = {
        "metric": "total_wall_sec_all_queries",
        "value": 99999.999,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "n_queries": 999,
        "calibration_sec": 0.999,
        "calibration_probes": [0.999] * 9,
        "calibration_probe_positions": [999] * 9,
        "calibration_scan_sec": 0.999,
        "calibration_scan_probes": [0.999, 0.999],
    }
    assert len(json.dumps(payload)) < 2000
