"""Streaming incremental NEAR-dup dedup: a document stream screened
against the snapshot corpus — the composition no batch entry covers
(streaming × LSH dedup jointly).

The production shape this models: a crawler emits new documents; each
must be (a) rejected if it is a probable near-duplicate of anything in
the existing corpus snapshot, and (b) collapsed against exact copies
arriving close to it in the stream. At 100 TB the snapshot's BAND
table (4 × distinct 16-byte signatures) is orders of magnitude smaller
than the corpus — it broadcasts; the stream side computes its own
signatures per row (``minhash_band_cols_arrow`` — Arrow-batched,
bit-identical to the JVM expression form, zero state, zero shuffle),
so the screen is 4 stateless broadcast anti-joins and the only
stateful operator is the final watermarked windowed collapse.

Reference parity: extends mapreduce's R3 reduce semantics
(reference ``MasterServant.java`` shuffle→reduce) to the streaming
superset SURVEY.md §2.5 claims; the dedup semantics mirror
``pipeline.incremental_ingest_dedup`` (same id-slice snapshot
convention) upgraded from exact-hash to LSH near-dup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.functions.dedup import (
    BAND_ROWS,
    N_HASHES,
    _norm_text,
    _registry_minhash_sigs,
    minhash_band_cols_arrow,
)
from inf2106_map_reduce_spark.session import scratch_dir, session_cache
from inf2106_map_reduce_spark.streaming.runtime import (
    batch_writer,
    drain,
    state_partitions_for,
)
from inf2106_map_reduce_spark.tables import load_table

#: Deterministic synthetic ingest clock: documents carry no event
#: time, so the stream assigns doc_id-derived arrival timestamps
#: (one doc per minute from 2024-01-01T00:00Z). Oracle-encoded.
INGEST_EPOCH = 1704067200  # 2024-01-01 00:00:00 UTC
INGEST_STEP_SEC = 60

#: Snapshot convention shared with pipeline.incremental_ingest_dedup:
#: docs with doc_id % 10 < 3 form the existing corpus; the rest arrive
#: on the stream.
SNAPSHOT_MOD = 10
SNAPSHOT_LT = 3


def snapshot_band_sets(
    spark: SparkSession, sf_dir: str
) -> list[DataFrame]:
    """The snapshot's per-band distinct signature sets — one small
    DataFrame per LSH band, derived from the session's shared 64-hash
    signature stage (``dedup._registry_minhash_sigs``) filtered to the
    snapshot slice: a doc's signature depends only on its own
    shingles, so the slice's rows are bit-identical to signing the
    snapshot alone (identical band values to the stream's narrow
    per-row form; tests pin the equality). Band signatures are 16-byte
    md5s over distinct (band, min-signature) combinations — far
    smaller than the snapshot text, but still ONE ROW PER SNAPSHOT
    DOC, so the screen's broadcast decision is size-gated
    (:data:`SCREEN_BROADCAST_CAP`), not assumed."""
    sigs = _registry_minhash_sigs(spark, sf_dir).filter(
        F.col("doc_id") % SNAPSHOT_MOD < SNAPSHOT_LT
    )
    n_bands = N_HASHES // BAND_ROWS
    bands = sigs.select(
        *[
            F.md5(
                F.concat(
                    *[
                        F.col(f"mh{b * BAND_ROWS + r}")
                        for r in range(BAND_ROWS)
                    ]
                )
            ).alias(f"band_{b}")
            for b in range(n_bands)
        ]
    )
    return [
        bands.select(f"band_{b}").distinct() for b in range(n_bands)
    ]


#: Broadcast envelope for the snapshot screen (the modularity-class
#: audit, round 10): each band set is one 16-byte md5 per distinct
#: snapshot band signature — i.e. it GROWS with the snapshot corpus
#: (~80 MB serialized at 5M snapshot docs), so a forced broadcast is
#: only safe under an explicit cap. Below it the four anti-joins
#: broadcast (stateless, nothing on the stream shuffles — the fast
#: path every test SF takes); above it the hints are dropped and the
#: stream-static anti-joins plan as shuffled joins — slower per
#: micro-batch but bounded memory. The probe is the bounded
#: limit(cap+1).count() idiom over the (session-checkpointed)
#: signature stage, paid once per screen construction.
SCREEN_BROADCAST_CAP = 5_000_000


def neardup_screen(
    stream: DataFrame,
    band_sets: list[DataFrame],
    broadcast_ok: bool | None = None,
    cache_key: tuple | None = None,
) -> DataFrame:
    """Reject stream docs that share ANY LSH band with the snapshot:
    one stateless LEFT ANTI join per band column (broadcast below
    :data:`SCREEN_BROADCAST_CAP` snapshot signatures, shuffled above —
    pass ``broadcast_ok`` to skip the size probe, or ``cache_key`` to
    memoize the probe's verdict per source identity). Band-B
    anti-joins compose to 'no band matches' exactly because each join
    only eliminates rows whose OWN band-b value collides — a doc
    survives iff it passes all four. NULL band values (docs shorter
    than one shingle) never equi-join, so shingle-less docs always
    pass — same contract as the batch banding, both engines. The
    registry's key, ``(sf_dir,)``, shares one probe among every screen
    construction in the session."""

    def probe() -> bool:
        # every band set must fit under the cap: per-band distinct
        # cardinalities are NOT interchangeable (band b hashes a
        # different minhash slice, so a low-entropy slice can
        # collapse band 0 while another band stays near |docs|) —
        # one over-cap band force-broadcast would be the exact
        # failure the cap exists to prevent (r10 ADVICE item)
        return all(
            s.limit(SCREEN_BROADCAST_CAP + 1).count()
            <= SCREEN_BROADCAST_CAP
            for s in band_sets
        )

    if broadcast_ok is None:
        broadcast_ok = (
            probe()
            if cache_key is None
            else session_cache(
                stream.sparkSession, ("screen_probe", cache_key), probe
            )
        )
    out = stream
    for b, s in enumerate(band_sets):
        out = out.join(
            F.broadcast(s) if broadcast_ok else s,
            on=f"band_{b}",
            how="left_anti",
        )
    return out


def streaming_neardup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: the incremental-ingest near-dup pipeline as a
    REAL stream (AvailableNow drain over the documents parquet).

    Stages, in stream order: deterministic ingest clock → watermark
    (1 h) → per-row narrow MinHash bands → 4 broadcast anti-joins vs
    the snapshot band sets (near-dup screen) → watermarked APPEND-mode
    windowed collapse: surviving docs group by (1 h ingest window,
    exact content key), min doc_id survives, and a window emits
    exactly once when the watermark passes its end — the same
    finalization contract as ``streaming_tumbling_append``,
    oracle-encoded (windows still open at drain are withheld).

    State: only the final windowed aggregation — keys in flight are
    (hour-window, content_key) of the accepted slice, watermark-evicted
    an hour after each window closes. The dedup screen itself carries
    ZERO state at any corpus size; that is the point of the narrow
    signature form."""
    band_sets = snapshot_band_sets(spark, sf_dir)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
        .filter(F.col("doc_id") % SNAPSHOT_MOD >= SNAPSHOT_LT)
        .withColumn(
            "ingest_ts",
            F.timestamp_seconds(
                F.lit(INGEST_EPOCH) + F.col("doc_id") * INGEST_STEP_SEC
            ),
        )
        .withWatermark("ingest_ts", "1 hour")
    )
    accepted = neardup_screen(
        minhash_band_cols_arrow(stream),
        band_sets,
        cache_key=(sf_dir,),
    )
    out = (
        accepted.groupBy(
            F.window("ingest_ts", "1 hour").alias("w"),
            F.md5(_norm_text("text")).alias("content_key"),
        )
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "content_key",
            "doc_id",
            "n_copies",
        )
    )
    sink = scratch_dir(spark, "ingest_sink_")
    state_keys = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % SNAPSHOT_MOD >= SNAPSHOT_LT)
        .select(
            (F.col("doc_id") * INGEST_STEP_SEC / 3600).cast("int").alias("h"),
            F.md5(_norm_text("text")).alias("k"),
        )
    )
    drain(
        out,
        batch_writer(sink, "append"),
        state_partitions=state_partitions_for(
            state_keys,
            cache_key=(sf_dir, "documents", "neardup_ingest"),
        ),
    )
    return spark.read.parquet(sink).drop("epoch")
