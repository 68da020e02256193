"""Streaming batch-parity (SURVEY.md §7.2 M5): the same window
transforms produce identical results via batch execution and via
Structured Streaming with Trigger.AvailableNow, plus watermark/late-data
behavior on a controlled micro-batch sequence."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.streaming import windows as W
from inf2106_map_reduce_spark.tables import load_table


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_batch_parity_tumbling(spark, sf_smoke):
    batch = W.batch_tumbling_hourly(spark, sf_smoke)
    stream = W.streaming_tumbling_hourly(spark, sf_smoke)
    cols = ["window_start", "event_type", "n", "total_value"]
    assert _rows(batch, cols) == _rows(stream, cols)


def test_sliding_each_event_in_two_windows(spark, sf_smoke):
    events = load_table(spark, sf_smoke, "events")
    out = W.sliding_hourly(events)
    total_windowed = out.agg(F.sum("n")).collect()[0][0]
    assert total_windowed == 2 * events.count()


def test_session_window_merges_by_gap(spark):
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 1.0),  # same session (gap 10m)
        (1, "2024-01-01 01:00:00", 1.0),  # new session (gap 50m)
        (2, "2024-01-01 00:00:00", 1.0),
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts_s string, value double").select(
        "user_id", F.to_timestamp("ts_s").alias("ts"), "value"
    )
    out = {r["user_id"]: (r["n_sessions"], r["max_session_events"]) for r in W.session_windows(df).collect()}
    assert out == {1: (2, 2), 2: (1, 1)}


def test_watermark_drops_late_rows_across_microbatches(spark, tmp_path):
    """Real late-data semantics: two runs over a growing source dir;
    run 2 contains an event older than the checkpointed watermark
    whose window is already finalized -> dropped in append mode."""
    import datetime as dt

    src = tmp_path / "src"
    sink = tmp_path / "sink"
    src.mkdir()
    schema = "user_id bigint, ts timestamp, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(
            str(src)
        )

    def run_stream():
        agg = (
            spark.readStream.schema(schema)
            .parquet(str(src))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("ws"), "n")
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", str(sink))
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    # run 1: events to 00:59 -> watermark checkpoint 00:49; window
    # 00:00-00:10 is finalized and emitted
    write_batch([(1, t(5), 1.0), (1, t(59), 1.0)])
    run_stream()
    # run 2: one on-time event (01:09) and one LATE event (00:01 — far
    # behind the 00:49 watermark, its window already emitted)
    write_batch([(1, t(1), 99.0), (1, dt.datetime(2024, 1, 1, 1, 9), 1.0)])
    run_stream()
    out = {}
    for r in spark.read.parquet(str(sink)).collect():
        out[r["ws"].minute] = out.get(r["ws"].minute, 0) + r["n"]
    # 00:00 window counted only the batch-1 event; the late 00:01 event
    # was dropped (were it admitted, the window would re-emit with n=2)
    assert out.get(0) == 1, f"late row was not dropped: {out}"


def test_stream_stream_join_matches_batch_join(spark, sf_oracle):
    """Stream-stream attribution (watermarked both sides) emits exactly
    the batch join's matches under AvailableNow."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.streaming import joins as stream_joins
    from inf2106_map_reduce_spark.tables import load_table

    ev = load_table(spark, sf_oracle, "events")
    batch = stream_joins.click_purchase_pairs(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
    )
    streamed = stream_joins.streaming_click_attribution(spark, sf_oracle)
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streamed.collect()}
    assert b == s and len(b) > 0


def test_append_watermarked_agg_gets_no_data_batch(spark, sf_oracle, tmp_path):
    """Structural guard for the no-data-batch policy: an APPEND-mode
    WATERMARKED AGGREGATION only emits a window once the watermark
    passes it — under an AvailableNow drain that happens in the
    trailing no-data micro-batch, which a stateful drain skips by
    default. needs_no_data_batch must detect the shape from the
    analyzed plan and force the batch back on; without it this query
    would return zero finalized windows and silently lose results."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.streaming.runtime import (
        STATE_PARTITIONS,
        batch_writer,
        drain,
        needs_no_data_batch,
    )
    from inf2106_map_reduce_spark.tables import event_stream

    stream = event_stream(spark, sf_oracle).withWatermark("ts", "1 hour")
    out = stream.groupBy(F.window("ts", "1 hour")).agg(
        F.count(F.lit(1)).alias("n")
    )
    # plan-shape detection: append-mode watermarked agg -> True; the
    # registry's shapes (complete agg, append join/dedup, update
    # stateful) -> False
    assert needs_no_data_batch(out, "append") is True
    assert needs_no_data_batch(out, "complete") is False
    assert needs_no_data_batch(None, "append") is False

    sink = str(tmp_path)
    drain(
        out, batch_writer(sink, "append"), state_partitions=STATE_PARTITIONS
    )
    emitted = spark.read.parquet(sink).drop("epoch").count()
    # every window strictly below max(ts) - 1h is finalized; the events
    # table spans days, so many windows must appear
    assert emitted > 0, "append-mode watermarked agg lost its final windows"


def test_state_partitions_derived_from_key_cardinality(spark, monkeypatch):
    """Sizing must come from the DATA: a small key sample lands on the
    floor, a large one scales by the keys-per-partition rule, and the
    env override beats both."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.streaming import runtime

    monkeypatch.delenv("SPARK_GRAFT_STATE_PARTITIONS", raising=False)
    small = spark.range(50).select(F.col("id").alias("k"))
    assert runtime.state_partitions_for(small) == runtime.STATE_PARTITIONS_FLOOR
    # 450k distinct keys / 100k per partition -> ceil = 5 (approx
    # distinct has ~2% error; anywhere in ceil's 5-bucket is fine, so
    # assert the bucket, not the exact estimate)
    big = spark.range(450_000).select(F.col("id").alias("k"))
    n = runtime.state_partitions_for(big)
    assert n == 5, n
    assert runtime.state_partitions_for(None) == runtime.STATE_PARTITIONS
    monkeypatch.setenv("SPARK_GRAFT_STATE_PARTITIONS", "7")
    assert runtime.state_partitions_for(big) == 7


def test_no_data_batch_forced_for_outer_stream_stream_join(spark, sf_oracle):
    """The other shape that loses output without the trailing no-data
    micro-batch: an append-mode OUTER stream-stream join's unmatched
    rows emit only when the watermark proves no match can arrive.
    needs_no_data_batch must detect the outer-join shape structurally
    (inner joins emit on arrival and must NOT force the batch)."""
    from pyspark.sql import functions as F

    from inf2106_map_reduce_spark.streaming.joins import click_purchase_pairs
    from inf2106_map_reduce_spark.streaming.runtime import needs_no_data_batch
    from inf2106_map_reduce_spark.tables import event_stream

    def stream():
        return event_stream(spark, sf_oracle).withWatermark("ts", "1 hour")

    clicks = stream().filter(F.col("event_type") == "click")
    purchases = stream().filter(F.col("event_type") == "purchase")
    outer = click_purchase_pairs(clicks, purchases, how="left_outer")
    inner = click_purchase_pairs(clicks, purchases, how="inner")
    assert needs_no_data_batch(outer, "append") is True
    assert needs_no_data_batch(inner, "append") is False


def test_streaming_append_emits_only_finalized_windows(spark, sf_smoke):
    """Append mode = the batch result MINUS windows the final watermark
    (ms-truncated max ts − 1 h) has not passed, each emitted exactly
    once across epochs."""
    batch = W.batch_tumbling_hourly(spark, sf_smoke)
    appended = W.streaming_tumbling_append(spark, sf_smoke)
    cols = ["window_start", "event_type", "n", "total_value"]

    mx = load_table(spark, sf_smoke, "events").agg(F.max("ts")).collect()[0][0]
    wm = mx.replace(microsecond=mx.microsecond // 1000 * 1000)
    import datetime as dt

    finalized = batch.filter(
        F.col("window_start") + F.expr("INTERVAL 1 HOUR")
        <= F.lit(wm - dt.timedelta(hours=1))
    )
    assert _rows(appended, cols) == _rows(finalized, cols)
    # strictly fewer rows than batch: the trailing open window is withheld
    assert appended.count() < batch.count()
    # exactly-once: no (window, type) key appears twice across epochs
    keys = _rows(appended, ["window_start", "event_type"])
    assert len(keys) == len(set(keys))


def test_drain_stops_query_and_removes_checkpoint(spark, tmp_path, monkeypatch):
    """drain owns the whole stream lifecycle: a clean drain fills the
    sink, and a drain whose batch function raises surfaces the
    StreamingQueryException — in both cases no query stays active and
    no checkpoint dir is left behind."""
    from pyspark.errors import StreamingQueryException

    from inf2106_map_reduce_spark.streaming.runtime import batch_writer, drain

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    src = str(tmp_path / "src")
    schema = "k int, v string"
    spark.createDataFrame([(1, "a"), (2, "b")], schema).write.parquet(src)

    def stream():
        return spark.readStream.schema(schema).parquet(src)

    sink = str(tmp_path / "sink")
    drain(stream(), batch_writer(sink, "append"))
    assert spark.read.parquet(sink).drop("epoch").count() == 2
    assert not list(tmp_path.glob("ckpt_*"))

    def failing_batch(_df, _epoch):
        raise RuntimeError("batch failed")

    with pytest.raises(StreamingQueryException):
        drain(stream(), failing_batch)
    assert spark.streams.active == []
    assert not list(tmp_path.glob("ckpt_*"))


@pytest.mark.parametrize("output_mode", ["append", "update"])
def test_append_epoch_writer_is_retry_idempotent(spark, tmp_path, output_mode):
    """foreachBatch is at-least-once: replaying an epoch through the
    epoch-partitioned writer (append lanes, and the stateful lane's
    update mode) must REPLACE that epoch's rows, not duplicate them —
    and other epochs' output must survive."""
    from inf2106_map_reduce_spark.streaming.runtime import batch_writer

    sink = str(tmp_path / "sink")
    write = batch_writer(sink, output_mode)
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    df2 = spark.createDataFrame([(3, "c")], "k int, v string")
    write(df1, 0)
    write(df2, 1)
    write(df1, 0)  # retried epoch 0
    got = sorted(
        (r["k"], r["v"]) for r in spark.read.parquet(sink).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_narrow_bands_match_batch_construction(spark, sf_smoke):
    """minhash_band_cols (the per-row stateless streaming form) must
    produce bit-identical band signatures to the batch explode+agg
    construction — the property that lets the stream's screen join
    against a batch-built snapshot band table."""
    from inf2106_map_reduce_spark.functions import dedup

    d = load_table(spark, sf_smoke, "documents")
    sigs = dedup.minhash_signatures(d)
    n_bands = dedup.N_HASHES // dedup.BAND_ROWS
    batch = {
        r["doc_id"]: tuple(r[f"band_{b}"] for b in range(n_bands))
        for r in sigs.select(
            "doc_id",
            *[
                F.md5(
                    F.concat(
                        *[
                            F.col(f"mh{b * dedup.BAND_ROWS + r}")
                            for r in range(dedup.BAND_ROWS)
                        ]
                    )
                ).alias(f"band_{b}")
                for b in range(n_bands)
            ],
        ).collect()
    }
    narrow = {
        r["doc_id"]: tuple(r[f"band_{b}"] for b in range(n_bands))
        for r in dedup.minhash_band_cols(d)
        .select("doc_id", *[f"band_{b}" for b in range(n_bands)])
        .collect()
    }
    assert batch == {k: v for k, v in narrow.items() if k in batch}
    # docs absent from the batch agg have no shingles -> all-NULL bands
    for k in set(narrow) - set(batch):
        assert all(v is None for v in narrow[k])


def test_arrow_bands_match_jvm_form(spark, sf_smoke):
    """minhash_band_cols_arrow (the streaming hot path) must be
    bit-identical to the JVM expression form on real corpus text AND
    on the edge rows the corpus never exercises (NULL text, empty,
    whitespace-only, shorter than one shingle, mixed whitespace
    runs, capitals only the JVM's case tables lowercase)."""
    from inf2106_map_reduce_spark.functions import dedup

    d = load_table(spark, sf_smoke, "documents")
    edge = spark.createDataFrame(
        [
            (100001, None),
            (100002, ""),
            (100003, "   \t \n "),
            (100004, "two words"),
            (100005, "  Tabs\tand\nNEWLINES   collapse  to one   "),
            # leading/trailing NON-SPACE whitespace: Spark `trim`
            # keeps it, so the collapsed text gains an empty first or
            # last word — the Arrow form must reproduce that, not
            # Python-strip it away (round-9 ADVICE item)
            (100006, "\tfoo bar baz qux quux corge grault"),
            (100007, "foo bar baz qux quux corge grault\n"),
            (100008, "\t mixed lead and trail tab newline words here \n "),
            # capitals the JVM lowercases and Python 3.11 does not
            (100009, "\u1c89 tje and \ua7cb rams horn"),
        ],
        "doc_id bigint, text string",
    )
    both = d.select("doc_id", "text").unionAll(edge)
    n_bands = dedup.N_HASHES // dedup.BAND_ROWS
    cols = ["doc_id"] + [f"band_{b}" for b in range(n_bands)]
    jvm = {
        r["doc_id"]: tuple(r[c] for c in cols[1:])
        for r in dedup.minhash_band_cols(both).select(*cols).collect()
    }
    arrow = {
        r["doc_id"]: tuple(r[c] for c in cols[1:])
        for r in dedup.minhash_band_cols_arrow(both)
        .select(*cols)
        .collect()
    }
    assert jvm == arrow
    # the lowering feeds only the bands; the text column passes through
    kept = dedup.minhash_band_cols_arrow(edge).where("doc_id = 100009")
    assert kept.first()["text"] == "\u1c89 tje and \ua7cb rams horn"


def test_neardup_screen_semantics(spark):
    """The 4 anti-joins compose to 'reject iff ANY band matches the
    snapshot'; shingle-less docs (NULL bands) always pass."""
    from inf2106_map_reduce_spark.functions import dedup
    from inf2106_map_reduce_spark.streaming import ingest

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),  # snapshot member
            (2, base),  # exact copy arriving in the stream -> reject
            (3, "completely different text about spark engines at scale ok"),
            (4, "hi"),  # shorter than one shingle -> NULL bands -> accept
        ],
        "doc_id bigint, text string",
    )
    snap = docs.filter("doc_id = 1")
    stream_side = dedup.minhash_band_cols(docs.filter("doc_id > 1"))
    sigs = dedup.minhash_signatures(snap)
    n_bands = dedup.N_HASHES // dedup.BAND_ROWS
    band_sets = [
        sigs.select(
            F.md5(
                F.concat(
                    *[
                        F.col(f"mh{b * dedup.BAND_ROWS + r}")
                        for r in range(dedup.BAND_ROWS)
                    ]
                )
            ).alias(f"band_{b}")
        ).distinct()
        for b in range(n_bands)
    ]
    kept = sorted(
        r["doc_id"]
        for r in ingest.neardup_screen(stream_side, band_sets)
        .select("doc_id")
        .collect()
    )
    assert kept == [3, 4]
    # size-gated broadcast (round-10 modularity-class audit): the
    # over-cap SHUFFLED form must accept the identical set — the hint
    # is a memory-safety decision, never a semantic one
    kept_shuffled = sorted(
        r["doc_id"]
        for r in ingest.neardup_screen(
            stream_side, band_sets, broadcast_ok=False
        )
        .select("doc_id")
        .collect()
    )
    assert kept_shuffled == kept


def _write_span_file(spark, src_dir, i, rows):
    """One time-span parquet file with a pinned mtime (batch order),
    written via a scratch dir next to ``src_dir`` (created on first
    use, so both live in the caller's ``tmp_path``)."""
    import glob as _glob
    import os
    import shutil

    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"], format="mixed")
    os.makedirs(src_dir, exist_ok=True)
    tmp = f"{src_dir}.w{i}"
    spark.createDataFrame(pdf).repartition(1).write.mode("overwrite").parquet(
        tmp
    )
    part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(src_dir, f"{i:02d}.parquet")
    shutil.copy(part, dst)
    os.utime(dst, (1_700_000_000 + 100 * i,) * 2)
    shutil.rmtree(tmp)


def _drain_session_stream(spark, src_dir):
    """Drain the sessionizer over ``src_dir`` into a sink next to it."""
    from inf2106_map_reduce_spark.streaming import stateful
    from inf2106_map_reduce_spark.streaming.runtime import batch_writer, drain

    out = stateful.session_timeout_stream(src_dir, spark)
    sink = f"{src_dir}.sink"
    drain(out, batch_writer(sink, "append"), state_partitions=2)
    return spark.read.parquet(sink).drop("epoch")


def test_session_timeout_boundary(spark, tmp_path):
    """Pins Spark's event-time-timeout boundary, which the registry
    oracle's cutoff comparison must mirror: a timeout fires iff
    timeout_ts_ms < watermark_ms, STRICTLY. Final watermark here is
    exactly 10:30:00.000 (max ts 11:30 − 1 h); three single-event
    users arm timeouts 1 ms below / exactly at / 1 ms above it —
    only the strictly-below one may evict."""
    import os

    src = str(tmp_path / "src")
    d = "2024-01-01 "
    # gap 30 min → timeout = ts + 30 min (ms-floored)
    _write_span_file(
        spark,
        src,
        0,
        [
            (1, d + "10:00:00"),  # timeout 10:30:00.000 == wm → open
            (2, d + "09:59:59.999"),  # timeout 10:29:59.999 < wm → evict
            (3, d + "10:00:00.001"),  # timeout 10:30:00.001 > wm → open
        ],
    )
    _write_span_file(spark, src, 1, [(9, d + "11:30:00")])
    got = _drain_session_stream(spark, src)
    assert sorted(r.user_id for r in got.collect()) == [2]


def test_session_timeout_emits_gap_and_timeout_closures(spark, tmp_path):
    """Differential scenario across three micro-batches: gap-detected
    closures emit with exact (start, end, n); pending evictions fire
    in the trailing no-data batch; sessions still open at stream end
    (timeout beyond the final watermark) are never emitted."""
    src = str(tmp_path / "src")
    d = "2024-01-01 "
    _write_span_file(
        spark,
        src,
        0,
        [(1, d + "10:00:00"), (1, d + "10:10:00"), (2, d + "10:00:00")],
    )
    _write_span_file(
        spark, src, 1, [(1, d + "20:00:00"), (3, d + "20:05:00")]
    )
    _write_span_file(spark, src, 2, [(3, d + "23:00:00")])
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in _drain_session_stream(spark, src).collect()
    }
    assert got == {
        # u1 first session: closed by the 20:00 event (gap > 30 min)
        (1, d + "10:00:00", d + "10:10:00", 2),
        # u1 second + u2 only: evicted by timeout (wm_final = 22:00)
        (1, d + "20:00:00", d + "20:00:00", 1),
        (2, d + "10:00:00", d + "10:00:00", 1),
        # u3 first: closed by the 23:00 event
        (3, d + "20:05:00", d + "20:05:00", 1),
        # u3's 23:00 session (timeout 23:30 > wm 22:00): NOT emitted
    }


def test_session_timeout_out_of_order_merge_stays_well_formed(spark, tmp_path):
    """Cross-batch OUT-OF-ORDER arrival must not corrupt the open
    session: a late-but-within-watermark event (Spark does not filter
    it) that predates the open session's end goes through the
    insert+gap-sweep merge — which yields the exact event-level
    sessionization of the union — instead of the pre-fix plain
    assignment that left state with end < start and a timeout armed in
    the past (premature eviction of a malformed row, end regressing
    45 min below start in this scenario)."""
    src = str(tmp_path / "src")
    d = "2024-01-01 "
    # batch 0: u1 opens a session at 11:00; wm after b0 = 10:00
    _write_span_file(spark, src, 0, [(1, d + "11:00:00")])
    # batch 1: u1's 10:15 event is late (predates the open session)
    # but >= wm 10:00, so it reaches the state fn
    _write_span_file(spark, src, 1, [(1, d + "10:15:00")])
    # batch 2: push the final watermark to 12:00 so u1's sessions
    # (timeouts 10:45 and 11:30) both evict; u9's own stays open
    _write_span_file(spark, src, 2, [(9, d + "13:00:00")])
    rows = _drain_session_stream(spark, src).collect()
    # no malformed intervals, ever
    assert all(r.session_start <= r.session_end for r in rows)
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in rows
    }
    # exact union sessionization: 10:15 -> 11:00 is a 45 min gap
    # (> 30 min), so the late event is its OWN session, not a
    # backward extension of the open one
    assert got == {
        (1, d + "10:15:00", d + "10:15:00", 1),
        (1, d + "11:00:00", d + "11:00:00", 1),
    }


def test_session_timeout_mixed_late_and_ontime_batch(spark, tmp_path):
    """The sweep merge must stay exact when ONE batch carries both a
    late event and an on-time event: with open state (11:00) a batch
    holding {10:15 late, 11:10 on-time} gap-splits batch-locally into
    [10:15] and [11:10] — 55 min apart — but 11:10 is only 10 min
    after the open end, so the true union sessionization is
    {[10:15], [11:00..11:10]}. A first-session-only patch would emit a
    spurious [10:15..11:00] closure and strand 11:10 in a new
    session."""
    src = str(tmp_path / "src")
    d = "2024-01-01 "
    _write_span_file(spark, src, 0, [(1, d + "11:00:00")])
    # wm after batch 0 = 10:00 — both events below are >= wm
    _write_span_file(
        spark, src, 1, [(1, d + "10:15:00"), (1, d + "11:10:00")]
    )
    # final wm = 13:00 − 1 h = 12:00 > both timeouts (10:45, 11:40)
    _write_span_file(spark, src, 2, [(9, d + "13:00:00")])
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in _drain_session_stream(spark, src).collect()
    }
    assert got == {
        (1, d + "10:15:00", d + "10:15:00", 1),
        (1, d + "11:00:00", d + "11:10:00", 2),
    }


def _write_span_file_us(spark, src_dir, i, rows_us):
    """Like _write_span_file but takes (user_id, ts_µs) pairs."""
    import pandas as pd

    _write_span_file(
        spark,
        src_dir,
        i,
        [(u, pd.Timestamp(t, unit="us")) for u, t in rows_us],
    )


def _reference_emitted_sessions(events_by_user):
    """Pure-Python reference for the sessionizer's documented contract:
    per user, gap-split the sorted µs timestamps (strictly > gap opens
    a new session); emitted = every non-final session, plus the final
    one iff its ms-floored timeout strictly precedes the final
    watermark (max ts over ALL users, ms-floored, − 1 h) — the exact
    cutoff the registry oracle encodes. File batching must not matter
    (the file-count-invariance claim)."""
    from inf2106_map_reduce_spark.streaming.stateful import SESSION_GAP_US

    wm_ms = (
        max(t for ts in events_by_user.values() for t in ts) // 1000
        - 3_600_000
    )
    out = set()
    for uid, times in events_by_user.items():
        sessions = _gap_sessions(sorted(times))
        for i, ev in enumerate(sessions):
            s, e, n = ev[0], ev[-1], len(ev)
            is_final = i == len(sessions) - 1
            if not is_final or (e + SESSION_GAP_US) // 1000 < wm_ms:
                out.add((uid, s, e, n))
    return out


def test_session_timeout_fuzz_matches_reference(spark, tmp_path):
    """Seeded differential fuzz of the whole sessionizer drain: random
    user/event sets (ms-quantized with occasional sub-ms µs values to
    stress the flooring), split into a RANDOM number of ordered span
    files (1-3, cut at sorted-time boundaries so arrival order holds),
    drained for real, and compared as a set against the pure-Python
    reference — which also proves the emitted set is file-count
    invariant, the claim SESSION_SPAN_FILES relies on."""
    import random

    rng = random.Random(20261)
    base_us = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
    gap_us = 1_800_000_000
    for case in range(5):
        events = {}
        for uid in range(1, rng.randint(2, 6) + 1):
            t = base_us + rng.randint(0, 4 * 3600 * 1000) * 1000
            times = [t]
            for _ in range(rng.randint(0, 8)):
                if rng.random() < 0.5:
                    step = rng.randint(0, gap_us // 1000) * 1000
                else:
                    step = gap_us + rng.randint(1, gap_us // 1000) * 1000
                t += step + (rng.randint(0, 999) if rng.random() < 0.2 else 0)
                times.append(t)
            events[uid] = times
        flat = sorted(
            ((u, t) for u, ts in events.items() for t in ts),
            key=lambda p: p[1],
        )
        n_files = rng.randint(1, 3)
        cuts = sorted(
            rng.sample(range(1, len(flat)), min(n_files - 1, len(flat) - 1))
        )
        src = str(tmp_path / f"case{case}")
        for i, (lo, hi) in enumerate(
            zip([0] + cuts, cuts + [len(flat)])
        ):
            _write_span_file_us(spark, src, i, flat[lo:hi])
        import pandas as pd

        got = {
            (
                r.user_id,
                pd.Timestamp(r.session_start),
                pd.Timestamp(r.session_end),
                r.n_events,
            )
            for r in _drain_session_stream(spark, src).collect()
        }
        want = {
            (u, pd.Timestamp(s, unit="us"), pd.Timestamp(e, unit="us"), n)
            for u, s, e, n in _reference_emitted_sessions(events)
        }
        assert got == want, (
            f"case {case}: files={len(cuts) + 1} events={events}"
        )


def _gap_sessions(times_sorted):
    """Split a user's sorted µs timestamps by the strict gap rule."""
    from inf2106_map_reduce_spark.streaming.stateful import SESSION_GAP_US

    sess = [[times_sorted[0]]]
    for t in times_sorted[1:]:
        if t - sess[-1][-1] > SESSION_GAP_US:
            sess.append([t])
        else:
            sess[-1].append(t)
    return sess


def test_session_timeout_fuzz_with_safe_disorder(spark, tmp_path):
    """Disorder fuzz: same generator as the ordered fuzz, but each case
    then moves ONE event to a LATER span file under the conditions that
    provably preserve the emitted set (so the same pure reference
    applies): the moved event belongs to its user's FINAL gap-session
    and is either that session's last event or redundant (its sorted
    neighbors are within one gap of each other, so removing it cannot
    split the session for the on-time fold), and at its new position it
    is within-watermark (>= max prior ts − 1 h, so Spark neither drops
    it nor can its session have been evicted first — eviction requires
    the watermark to pass end + gap, which the within-watermark bound
    contradicts). This is the randomized end-to-end check of the
    insert+gap-sweep merge's exactness claim."""
    import random

    import pandas as pd

    from inf2106_map_reduce_spark.streaming.stateful import SESSION_GAP_US

    rng = random.Random(40509)
    base_us = 1_704_067_200_000_000
    moved_total = 0
    for case in range(5):
        events = {}
        for uid in range(1, rng.randint(2, 5) + 1):
            t = base_us + rng.randint(0, 3 * 3600 * 1000) * 1000
            times = [t]
            for _ in range(rng.randint(1, 8)):
                if rng.random() < 0.55:
                    step = rng.randint(0, SESSION_GAP_US // 1000) * 1000
                else:
                    step = (
                        SESSION_GAP_US
                        + rng.randint(1, SESSION_GAP_US // 1000) * 1000
                    )
                t += step
                times.append(t)
            events[uid] = times
        flat = sorted(
            ((u, t) for u, ts in events.items() for t in ts),
            key=lambda p: p[1],
        )
        n_files = rng.randint(2, 3)
        cuts = sorted(
            rng.sample(range(1, len(flat)), min(n_files - 1, len(flat) - 1))
        )
        files = [
            list(flat[lo:hi])
            for lo, hi in zip([0] + cuts, cuts + [len(flat)])
        ]
        # one exactness-preserving late move per case, when possible
        candidates = []
        for u, ts in events.items():
            ts_sorted = sorted(ts)
            final = _gap_sessions(ts_sorted)[-1]
            for t in final:
                i = ts_sorted.index(t)
                redundant = (
                    0 < i < len(ts_sorted) - 1
                    and ts_sorted[i + 1] - ts_sorted[i - 1] <= SESSION_GAP_US
                )
                if t == final[-1] or redundant:
                    candidates.append((u, t))
        rng.shuffle(candidates)
        for u, t in candidates:
            src_i = next(
                (i for i, f in enumerate(files) if (u, t) in f), None
            )
            if src_i is None or src_i == len(files) - 1:
                continue
            if len(files[src_i]) == 1:
                continue  # keep every span file non-empty
            valid_j = []
            for j in range(src_i + 1, len(files)):
                prior = [
                    tt
                    for i2, f in enumerate(files)
                    if i2 < j
                    for (_, tt) in f
                    if not (i2 == src_i and (u, tt) == (u, t))
                ]
                if not prior or t >= max(prior) - 3_600_000_000:
                    valid_j.append(j)
            if valid_j:
                j = rng.choice(valid_j)
                files[src_i].remove((u, t))
                files[j].append((u, t))
                moved_total += 1
                break
        src = str(tmp_path / f"case{case}")
        for i, rows in enumerate(files):
            _write_span_file_us(spark, src, i, rows)
        got = {
            (
                r.user_id,
                pd.Timestamp(r.session_start),
                pd.Timestamp(r.session_end),
                r.n_events,
            )
            for r in _drain_session_stream(spark, src).collect()
        }
        want = {
            (u, pd.Timestamp(s, unit="us"), pd.Timestamp(e, unit="us"), n)
            for u, s, e, n in _reference_emitted_sessions(events)
        }
        assert got == want, f"case {case}: files={files} events={events}"
    # the generator must actually exercise disorder, not silently skip
    # (the fixed seed admits exactly 2 safe moves across the 5 cases —
    # the within-watermark bound is strict; the targeted disorder
    # scenarios above cover the hand-picked shapes)
    assert moved_total >= 2, moved_total


def test_event_time_timeout_forces_no_data_batch(spark, tmp_path):
    """The session-timeout shape must be structurally detected: an
    append-mode stateful operator with EventTimeTimeout needs the
    trailing no-data batch (pending evictions fire there — without it
    the sf0.01 entry lost 129 rows), while the NoTimeout user-stats
    shape does not."""
    from inf2106_map_reduce_spark.streaming import stateful
    from inf2106_map_reduce_spark.streaming.runtime import (
        needs_no_data_batch,
    )

    src = str(tmp_path / "src")
    _write_span_file(spark, src, 0, [(1, "2024-01-01 10:00:00")])
    out = stateful.session_timeout_stream(src, spark)
    assert needs_no_data_batch(out, "append") is True
