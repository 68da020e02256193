"""Stateful streaming operators over events: watermarked streaming
dedup and a custom per-key stateful aggregator (applyInPandasWithState).

``applyInPandasWithState`` is deliberately the custom-state surface
here rather than Spark 4's newer ``transformWithStateInPandas``: the
latter's driver-side runner needs the ``google.protobuf`` package,
which this execution environment lacks (verified: the streaming
Python runner crashes on import). The semantics covered are the same
(per-key state, batch-iterated Arrow input, update-mode emission);
swapping APIs when protobuf is available is a mechanical change.

The reference is strictly batch (SURVEY.md §2.5); these are the
superset streaming surface. Both run as REAL streams
(``readStream`` → ``runtime.drain`` → parquet sink) so the registry
exercises genuine streaming execution, with deterministic results the
DuckDB oracle can check:

- streaming dedup keeps only the KEY columns → result = DISTINCT keys,
  independent of which physical row survived;
- the stateful aggregator emits one final row per key from a single
  AvailableNow batch → result = batch GROUP BY.

Scale notes: ``dropDuplicatesWithinWatermark`` bounds dedup state by
event time (without the watermark, state grows with the key universe —
unusable on an unbounded stream); the applyInPandasWithState operator
keeps O(1) state per key (count/sum), the pattern for any
beyond-built-in stateful semantics (counters, ML feature windows,
anomaly flags).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from inf2106_map_reduce_spark.session import WORK_ROOT, scratch_dir

from inf2106_map_reduce_spark.streaming.runtime import (
    batch_writer,
    drain,
    state_partitions_for,
)
from inf2106_map_reduce_spark.tables import event_stream, load_table

WATERMARK = "1 hour"


def _run_to_table(
    out_stream,
    spark: SparkSession,
    mode: str,
    state_keys=None,
    state_key_id: tuple | None = None,
) -> DataFrame:
    """Run to completion through the epoch-partitioned foreachBatch
    parquet sink (runtime.batch_writer) and read the result back — no
    driver-side materialization (the memory sink collects to the
    driver; fine for tests, wrong as the shipped path). AvailableNow
    over the single events file yields one batch, so update mode emits
    each key once. ``state_keys`` (a batch projection of the state key
    columns) sizes the state partition count from the data
    (runtime.state_partitions_for)."""
    sink = scratch_dir(spark, "stream_sink_")
    drain(
        out_stream,
        batch_writer(sink, mode),
        output_mode=mode,
        # the Python-state rule: this module's operators are the
        # applyInPandasWithState lanes, where every group pays a
        # per-group Python round-trip — see
        # runtime.PY_STATE_KEYS_PER_SQ for the model and measurements
        state_partitions=state_partitions_for(
            state_keys, cache_key=state_key_id, py_state=True
        ),
    )
    return spark.read.parquet(sink).drop("epoch")


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: streaming dedup on (user_id, event_type) with
    watermark-bounded state; returns the distinct key set."""
    stream = event_stream(spark, sf_dir).withWatermark("ts", WATERMARK)
    deduped = stream.dropDuplicatesWithinWatermark(["user_id", "event_type"])
    return _run_to_table(
        deduped.select("user_id", "event_type"),
        spark,
        mode="append",
        state_keys=load_table(spark, sf_dir, "events").select(
            "user_id", "event_type"
        ),
        state_key_id=(sf_dir, "events", "user_id", "event_type"),
    )


def _user_stats_fn(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running (count, sum(value)) in group state; emits the
    updated totals once per batch the key appears in."""
    if state.exists:
        cnt, sv = state.get
    else:
        cnt, sv = 0, 0.0
    for pdf in pdf_iter:
        cnt += len(pdf)
        sv += float(pdf["value"].sum())
    state.update((cnt, sv))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [cnt], "total_value": [round(sv, 2)]}
    )


def streaming_user_stats_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: custom stateful per-user aggregator via
    applyInPandasWithState (Arrow-batched, O(1) state per key)."""
    stream = event_stream(spark, sf_dir).select("user_id", "value")
    out = stream.groupBy("user_id").applyInPandasWithState(
        _user_stats_fn,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="cnt bigint, sv double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_to_table(
        out,
        spark,
        mode="update",
        state_keys=load_table(spark, sf_dir, "events").select("user_id"),
        state_key_id=(sf_dir, "events", "user_id"),
    )


# ---------------------------------------------------------------------------
# Session-gap eviction via event-time TIMEOUT — the one stateful-
# streaming feature the registry lacked an oracle-encoded entry for.
# ---------------------------------------------------------------------------

#: Session gap: 30 minutes in µs — the engine-wide session convention
#: (``_SESSION_CTES``/session_window entries). A gap STRICTLY greater
#: than this starts a new session; matches the oracle's ``> 1800000000``.
SESSION_GAP_US = 1_800_000_000

#: Number of time-ordered span files the static events snapshot is
#: staged into. Multiple files + ``maxFilesPerTrigger=1`` turn the
#: snapshot into a genuine multi-micro-batch stream, so the watermark
#: ADVANCES between batches and event-time timeouts actually fire
#: mid-stream — a single-batch AvailableNow drain would only exercise
#: the terminal no-data batch. A real deployment reads an actual
#: stream; the span staging is the harness device that recreates its
#: batch structure from a snapshot (one narrow 2-column projection,
#: written once, _STAGED-guarded like the roundtrip stages).
#:
#: Two files is the structural minimum that covers every watermark
#: regime — batch 0 at wm=0, batch 1 with an advanced watermark
#: (mid-stream evictions fire), and the terminal no-data batch (final
#: evictions) — and each extra batch costs ~1.7-2 s of pure
#: applyInPandasWithState machinery at sf0.1 (measured with a
#: do-nothing state fn: 6.9 s for 4 batches, i.e. the per-group Arrow
#: exchange for ~1500 keys/batch dominates, not the session logic —
#: the numpy fold itself is <1 s across the whole drain). The result
#: set is file-count-INVARIANT (only the final watermark enters the
#: oracle cutoff), so this is purely a cost knob. The staging dir is
#: versioned by this constant: a stale 3-file stage must never serve
#: a 2-file run.
SESSION_SPAN_FILES = 2


def stage_session_spans(
    ev: DataFrame,
    base: str,
    cols: tuple[str, ...] = ("user_id", "ts"),
    n_files: int = SESSION_SPAN_FILES,
) -> str:
    """Stage ``ev`` (any frame with a ``ts`` column) as ``n_files``
    parquet files covering consecutive equal time spans, with strictly
    increasing pinned mtimes — the file-stream source processes files
    oldest-first, so batch order == event-time order and nothing
    arrives late (span width ≫ watermark delay ≫ 0). The batch-order
    invariant (span arithmetic, the +1 step, the mtime scheme, the
    file-count coupling) lives HERE and only here; the registry
    stagings (session/backfill/upsert on the 2-column projection, the
    DLQ split on the full event row) and the scaling probe all call
    this helper, so a staging-contract change cannot silently diverge
    between them. ``cols`` picks the staged projection; ``ts`` must be
    a member."""
    if "ts" not in cols:
        # the span arithmetic is ts-driven; fail with intent instead
        # of an opaque unresolved-column error from the agg below
        raise ValueError(
            f"stage_session_spans cols must include 'ts' (got {cols!r})"
        )
    os.makedirs(base, exist_ok=True)
    ev = ev.select(*cols)
    lo, hi = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    if lo is None:
        # agg(min, max).first() on an empty (or all-null-ts) frame is
        # (None, None); fail with intent instead of an opaque
        # TypeError from the span arithmetic (r10 ADVICE item)
        raise ValueError(
            "cannot stage spans of an empty (or all-null-ts) events frame"
        )
    step = (hi - lo) // n_files + 1
    for i in range(n_files):
        b0, b1 = lo + i * step, lo + (i + 1) * step
        tmp = tempfile.mkdtemp(prefix="span_")
        (
            ev.filter(
                (F.unix_micros("ts") >= b0) & (F.unix_micros("ts") < b1)
            )
            .repartition(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(base, f"{i:02d}.parquet")
        shutil.copyfile(part, dst)
        # fixed, strictly increasing mtimes pin the batch order
        os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
        shutil.rmtree(tmp)
    return base


def staged_event_spans(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = SESSION_SPAN_FILES,
    cols: tuple[str, ...] = ("user_id", "ts"),
    tag: str = "spans",
) -> str:
    """The registry's _STAGED-guarded span staging of the events
    snapshot into ``n_files`` span files of ``cols`` (see
    :func:`stage_session_spans` for the invariant), written once under
    ``WORK_ROOT/streaming/<sf>/events_<tag><n_files>``. The
    session/backfill/upsert entries stage the ``(user_id, ts)``
    projection; the DLQ entries stage the full event row under
    ``tag="dlq"``. The name carries the file count, so a stale stage
    of another count never serves a run."""
    base = os.path.join(
        WORK_ROOT,
        "streaming",
        os.path.basename(os.path.normpath(sf_dir)),
        f"events_{tag}{n_files}",
    )
    done = os.path.join(base, "_STAGED")
    if not os.path.exists(done):
        stage_session_spans(
            load_table(spark, sf_dir, "events"), base, cols, n_files
        )
        open(done, "w").close()
    return base


def _session_timeout_fn(
    key: tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user gap sessionizer with event-time-timeout eviction.

    State = the OPEN session (start_us, end_us, n). Data call: fold the
    batch's timestamps in order — a gap strictly over SESSION_GAP_US
    closes the open session (emit) and starts a new one; the surviving
    session re-arms the timeout at end + gap. Timeout call (watermark
    passed end + gap with no new data): emit the session and drop the
    state — the eviction path under test. Sessions still open when the
    stream ends are never emitted (the honest timeout contract; the
    oracle reproduces it with the final-watermark cutoff).

    Timeout semantics pinned by test_session_timeout_boundary: Spark
    fires an event-time timeout iff timeout_ts_ms < watermark_ms,
    STRICTLY — the oracle's cutoff comparison must match."""
    if state.hasTimedOut:
        st, en, n = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": pd.Series([key[0]], dtype="int64"),
                "session_start": pd.Series(
                    [pd.Timestamp(st, unit="us")], dtype="datetime64[ns]"
                ),
                "session_end": pd.Series(
                    [pd.Timestamp(en, unit="us")], dtype="datetime64[ns]"
                ),
                "n_events": pd.Series([n], dtype="int64"),
            }
        )
        return
    import numpy as np

    # Vectorized fold: per-timestamp Python iteration measured 5.7x
    # under 8x data in the scaling probe but with a large constant
    # (42 s at 8x sf0.1); numpy diff/split of the sorted µs array does
    # the identical strict-> gap split batch-wide (probe re-measured
    # after this rewrite: 5.6× under 8× users, with the framework's
    # per-key cost dominating — SCALING.md "Measured scale-up evidence").
    arr = np.sort(
        np.concatenate(
            [pdf["ts"].astype("int64").to_numpy() // 1000 for pdf in pdf_iter]
        )
    )
    brk = np.flatnonzero(np.diff(arr) > SESSION_GAP_US) + 1
    starts = np.concatenate(([0], brk))
    ends = np.concatenate((brk, [len(arr)]))
    s_us = arr[starts]
    e_us = arr[ends - 1]
    cnt = (ends - starts).astype("int64")
    if state.exists:
        # Merge the open-session interval into the batch's session
        # list by INSERT + GAP-SWEEP rather than patching the first
        # batch session. This makes the fold exact under OUT-OF-ORDER
        # cross-batch arrival (late-but-within-watermark events are
        # NOT filtered by Spark): inserting [st, en] in start order
        # and merging every adjacent pair whose gap is <= GAP yields
        # the event-level sessionization of (prior ∪ batch) events —
        # a batch event inside the open span joins it, one within gap
        # of either edge extends it, one beyond the gap stays a
        # separate session, and cascades merge through (provable from
        # the open session's own chain validity: every adjacent prior
        # pair is <= GAP apart). The correctness WINDOW is the open
        # session: exactness is w.r.t. (open state ∪ batch), not
        # emitted history — an event late enough to gap-chain onto an
        # ALREADY-EMITTED session cannot retract that append-mode row
        # and emits as its own session instead (the standard streaming
        # contract; the watermark bounds how late such an event can
        # be, and the disorder fuzz's safe moves stay inside the
        # window for exactly this reason). A naive `s_us[0] = st`
        # patch instead
        # corrupts state (end < start, timeout armed in the past →
        # premature eviction of a malformed row) whenever the batch's
        # first session predates the open end — pinned by
        # test_session_timeout_out_of_order_*. For ordered arrival
        # (the staged registry spans: st <= every batch ts) the
        # insert lands at index 0 and the only possible merge is
        # state↔first-batch-session under the same <= GAP test, i.e.
        # bit-for-bit the pre-round-10 behavior (oracle hashes
        # unchanged). Eviction-vs-late-arrival cannot conflict: an
        # event arriving after its user's eviction satisfies
        # ts >= wm > end + gap, so it is beyond the evicted session's
        # gap window and correctly opens a new session.
        st, en, n = state.get
        pos = int(np.searchsorted(s_us, st))
        s_us = np.insert(s_us, pos, st)
        e_us = np.insert(e_us, pos, en)
        cnt = np.insert(cnt, pos, n)
        ms, me, mc = [int(s_us[0])], [int(e_us[0])], [int(cnt[0])]
        for s, e, c in zip(s_us[1:], e_us[1:], cnt[1:]):
            if int(s) - me[-1] <= SESSION_GAP_US:
                me[-1] = max(me[-1], int(e))
                mc[-1] += int(c)
            else:
                ms.append(int(s))
                me.append(int(e))
                mc.append(int(c))
        s_us = np.asarray(ms, dtype="int64")
        e_us = np.asarray(me, dtype="int64")
        cnt = np.asarray(mc, dtype="int64")
    state.update((int(s_us[-1]), int(e_us[-1]), int(cnt[-1])))
    # floor-ms, matching the oracle's (epoch_us(end) + gap) // 1000
    state.setTimeoutTimestamp((int(e_us[-1]) + SESSION_GAP_US) // 1000)
    yield pd.DataFrame(
        {
            "user_id": pd.Series(
                np.full(len(s_us) - 1, key[0]), dtype="int64"
            ),
            "session_start": pd.Series(
                s_us[:-1].astype("datetime64[us]"), dtype="datetime64[ns]"
            ),
            "session_end": pd.Series(
                e_us[:-1].astype("datetime64[us]"), dtype="datetime64[ns]"
            ),
            "n_events": pd.Series(cnt[:-1], dtype="int64"),
        }
    )


def session_timeout_stream(
    source_dir: str, spark: SparkSession
) -> DataFrame:
    """The sessionizer as a streaming transform over a staged span
    directory — split out so tests can drive it over synthetic files."""
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(source_dir)
    )
    return (
        stream.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_timeout_fn,
            outputStructType=(
                "user_id bigint, session_start timestamp, "
                "session_end timestamp, n_events bigint"
            ),
            stateStructType="st bigint, en bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def streaming_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: gap-based session eviction through
    applyInPandasWithState EVENT-TIME TIMEOUT — emitted rows are
    exactly the sessions CLOSED before the stream ended (by a
    later-than-gap event, or by the watermark passing end + gap); each
    user's final session stays in state unless the final watermark
    (max event time − 1 h, ms-floored) strictly passed its timeout.

    Scale: state is O(1) per live user (three longs); the watermark
    bounds it — every idle session is evicted one gap after its last
    event, so state tracks ACTIVE users, not the key universe. The
    span staging is a snapshot-harness device only (see
    SESSION_SPAN_FILES)."""
    src = staged_event_spans(spark, sf_dir)
    return _run_to_table(
        session_timeout_stream(src, spark),
        spark,
        mode="append",
        state_keys=load_table(spark, sf_dir, "events").select("user_id"),
        # same key identity as user-stats (approx-distinct user_id
        # over events) so the estimate memo HITS — a per-query suffix
        # here cost one redundant full-events scan per application
        state_key_id=(sf_dir, "events", "user_id"),
    )
