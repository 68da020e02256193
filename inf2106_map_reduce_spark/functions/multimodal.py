"""Multimodal column plumbing: opaque ``binary`` payload columns with
typed metadata, processed by Arrow-batched ``mapInPandas`` UDFs.

Decoding is IMPORT-GUARDED, not hard-stubbed: `decode_image` uses
pillow (`PIL.Image`) when installed — real width/height/format
metadata, looked up per executor worker — and falls back to the
deterministic stub (`decode_image_stub`) otherwise. The decode fields
are nullable on both branches so schemas and oracles are
backend-independent; this test container has no image libraries, so
tests exercise the real branch with an injected fake backend and the
stub branch end-to-end through Spark.

Scale notes: payloads stay in executor memory one Arrow batch at a
time (`spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch
bytes); never collect binaries to the driver; feature extraction is a
narrow map — no shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from inf2106_map_reduce_spark.tables import load_table

FEATURE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "byte_mean double, header_hex string, "
    # nullable decode fields: populated only when an image backend
    # (pillow) is installed AND the payload decodes; the registry
    # query projects the always-present byte-level columns, so its
    # oracle is backend-independent
    "width int, height int, img_format string"
)


def decode_image_stub(payload: bytes) -> dict:
    """STUB decode — a real pipeline calls PIL/libvips here.

    Raises NotImplementedError for non-synthetic media; for synthetic
    (UTF-8 text) payloads produces deterministic fake features so the
    Spark plumbing is fully exercisable in tests.
    """
    try:
        payload.decode("utf-8")
    except UnicodeDecodeError as exc:  # real image bytes land here
        raise NotImplementedError(
            "real media decoding requires an image library not present "
            "in this environment"
        ) from exc
    return {
        "n_bytes": len(payload),
        "byte_mean": (sum(payload) / len(payload)) if payload else 0.0,
        "header_hex": payload[:8].hex(),
    }


def image_backend():
    """The OPTIONAL image decode backend: ``PIL.Image`` when pillow is
    installed, else None. Looked up at call time (inside the executor
    worker for the Spark path), so installing pillow on the cluster
    flips every worker to real decoding with zero code change."""
    try:
        from PIL import Image  # noqa: PLC0415 — optional dependency

        return Image
    except ImportError:
        return None


def decode_image(payload: bytes, backend=None) -> dict:
    """Decode one payload: byte-level stats always (the stub contract,
    unchanged), plus REAL image metadata — ``width``/``height``/
    ``img_format`` — when an image backend is available AND the payload
    is an actual decodable image. The decode fields are NULLABLE on
    both branches, so schema, oracle, and downstream plumbing are
    identical with or without pillow; only the values appear.

    Non-UTF-8 payloads with NO backend still raise NotImplementedError
    (the deliberate stub surface — silent nulls would hide that the
    deployment forgot its decode dependency)."""
    if backend is None:
        backend = image_backend()
    width = height = img_format = None
    if backend is not None:
        import io

        try:
            with backend.open(io.BytesIO(payload)) as img:
                width, height = int(img.width), int(img.height)
                img_format = img.format
        except Exception:
            # backend present but payload isn't an image it can read —
            # fall through to byte-level features with NULL decode
            # fields (matches the stub branch's shape)
            pass
        base = {
            "n_bytes": len(payload),
            "byte_mean": (sum(payload) / len(payload)) if payload else 0.0,
            "header_hex": payload[:8].hex(),
        }
    else:
        base = decode_image_stub(payload)
    return {**base, "width": width, "height": height, "img_format": img_format}


def documents_as_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap documents.text as a synthetic binary media column with a
    typed metadata struct — the storage convention for multimodal data
    (payload opaque, metadata queryable without decoding)."""
    d = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.lit("synthetic/text").alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.octet_length(payload).cast("bigint").alias("n_bytes"),
        ).alias("meta"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload column.

    ``mapInPandas`` keeps whole-batch vectorization and lets one input
    row produce 0..N output rows (corrupt payloads are dropped, like a
    real decode pipeline)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        backend = image_backend()  # one lookup per worker batch stream
        for pdf in it:
            feats = []
            for doc_id, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["payload"]
            ):
                try:
                    f = decode_image(bytes(payload), backend=backend)
                except NotImplementedError:
                    continue
                feats.append(
                    (
                        doc_id,
                        mtype,
                        f["n_bytes"],
                        f["byte_mean"],
                        f["header_hex"],
                        f["width"],
                        f["height"],
                        f["img_format"],
                    )
                )
            yield pd.DataFrame(
                feats,
                columns=[
                    "doc_id",
                    "media_type",
                    "n_bytes",
                    "byte_mean",
                    "header_hex",
                    "width",
                    "height",
                    "img_format",
                ],
            )

    return media.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_stub(payload: bytes, factor: int = 4) -> bytes:
    """STUB resize — a real pipeline calls PIL.Image.resize / libvips
    here. Deterministic byte downsample (every ``factor``-th byte)
    keeps the plumbing testable without an image library."""
    return payload[::factor]


def sample_frames(
    media: DataFrame, frame_len: int = 64, stride: int = 2
) -> DataFrame:
    """Frame sampling for video-like payloads: split the payload into
    fixed-size frames, keep every ``stride``-th, and emit one row per
    sampled frame with its fingerprint and a resized-thumbnail
    fingerprint (1→N mapInPandas — a real ffmpeg keyframe sampler has
    exactly this Spark-side shape).
    """
    import hashlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                n_frames = (len(b) + frame_len - 1) // frame_len
                for i in range(0, n_frames, stride):
                    fr = b[i * frame_len : (i + 1) * frame_len]
                    thumb = resize_stub(fr)
                    rows.append(
                        (
                            doc_id,
                            i,
                            len(fr),
                            hashlib.md5(fr).hexdigest(),
                            hashlib.md5(thumb).hexdigest(),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "frame_idx", "n_bytes", "frame_md5", "thumb_md5"],
            )

    return media.mapInPandas(
        batches,
        schema=(
            "doc_id bigint, frame_idx int, n_bytes int, "
            "frame_md5 string, thumb_md5 string"
        ),
    )


def media_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: metadata-only scan (no decode — the point of the
    typed-metadata convention): payload byte stats per media type."""
    m = documents_as_media(spark, sf_dir)
    return m.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("meta.n_bytes")).alias("total_bytes"),
        F.round(F.avg(F.col("meta.n_bytes")), 4).alias("avg_bytes"),
        F.max(F.col("meta.n_bytes")).alias("max_bytes"),
    )


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: decoded (stub) per-item features via
    mapInPandas; byte_mean rounded for oracle stability."""
    feats = extract_features(documents_as_media(spark, sf_dir))
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        "header_hex",
    )


def media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: frame sampling + thumbnail fingerprints over the
    synthetic media payloads (1→N mapInPandas)."""
    return sample_frames(documents_as_media(spark, sf_dir))


# ---------------------------------------------------------------------------
# Perceptual-hash near-duplicates over media payloads
# ---------------------------------------------------------------------------

#: aHash thumbnail size: the first 64 payload bytes stand in for the
#: 8x8 grayscale thumbnail a real image pipeline would downsample to
#: (the decode/resize step is the stubbed part of the multimodal
#: contract; the hashing, banding and verification are the real
#: Spark-side machinery).
PHASH_BYTES = 64

#: Banding: 8 bands x 8 bits over the 64-bit hash — exact recall for
#: Hamming <= 7 (a pair differing in fewer bits than bands must agree
#: on one band), comfortably above the accept threshold.
PHASH_MAX_HAMMING = 6


def perceptual_hash_pairs(
    media: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "text",
    max_hamming: int = PHASH_MAX_HAMMING,
) -> DataFrame:
    """Average-hash (aHash) perceptual near-duplicate pairs over
    binary media payloads — the multimodal×dedup composition: re-posts
    and thumbnails of the same image differ in a few pixels, so exact
    content hashing misses them while the 64-bit average hash (bit i =
    "pixel" i brighter than the thumbnail mean) lands within a few
    Hamming bits. Public method (the classic pHash/aHash family).

    "Pixels" are the first :data:`PHASH_BYTES` payload bytes (the
    synthetic-media convention: the decode/downsample stage is
    stubbed, the hash/banding/verify plumbing is real and would apply
    unchanged to a real 8×8 luma thumbnail column). Items shorter than
    one thumbnail are excluded.

    Determinism: the mean test is INTEGER arithmetic — ``byte·64 >
    Σbytes`` avoids the rational mean entirely — and the hash is kept
    as two 32-bit halves (the simhash64 convention: bit 63 would
    overflow a signed bigint). Everything is JVM codegen (ascii/
    substring/bit ops — no UDF, no explode over bytes).

    Scale: one narrow pass computes both halves per item; candidates
    come from an 8-band equi-join on (band_idx, band_val) — bucketed,
    never all-pairs — and verification is two ``bit_count(xor)`` on
    the halves the candidate rows already carry. Same shape as the
    SimHash text path, exact recall for Hamming <= 7.
    """
    # "Pixel" bytes materialized ONCE as an array column (checkpoint —
    # item-count × 64 ints, tiny), then every hash term reads the
    # array and the thumbnail total as LAMBDA-BOUND values via the
    # single-element-transform binding trick. The flat form (64
    # bit-test expressions each repeating a 64-term byte sum) builds a
    # ~4096-node tree whose optimize/execute cost measured 7-11 s at
    # sf0.1; this form is ~200 array ops per row and runs in the
    # noise.
    n = PHASH_BYTES
    hb = n // 2
    px = F.transform(
        F.sequence(F.lit(1), F.lit(n)),
        lambda i: F.ascii(F.substring(F.col(payload_col), i, F.lit(1))),
    )
    pixels = (
        media.filter(F.length(payload_col) >= n)
        .select(F.col(id_col), px.alias("px"))
        .localCheckpoint(eager=True)
    )
    total = F.aggregate(
        F.col("px"), F.lit(0), lambda acc, x: acc + x
    )

    def half(offset: int, tot: Column) -> Column:
        # bit j of this half = 1 iff byte·64 > total (integer-exact);
        # 2^j via pow(2.0, j) — exact in doubles through j = 31
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(hb - 1)),
            F.lit(0).cast("bigint"),
            lambda acc, j: acc
            + F.when(
                F.element_at(F.col("px"), (j + 1 + offset).cast("int"))
                * F.lit(n)
                > tot,
                F.pow(F.lit(2.0), j).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )

    sigs = pixels.select(
        id_col,
        F.element_at(
            F.transform(
                F.array(total),
                lambda tot: F.struct(
                    half(0, tot).alias("lo"), half(hb, tot).alias("hi")
                ),
            ),
            1,
        ).alias("_s"),
    ).select(id_col, F.col("_s.lo").alias("lo"), F.col("_s.hi").alias("hi"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftright(F.col("lo" if b < 4 else "hi"), 8 * (b % 4))
                .bitwiseAND(F.lit(255))
                .alias("band_val"),
            )
            for b in range(8)
        ]
    )
    exploded = sigs.select(
        id_col, "lo", "hi", F.explode(bands).alias("band")
    ).select(id_col, "lo", "hi", "band.band_idx", "band.band_val")
    a, b = exploded.alias("a"), exploded.alias("b")
    hamming = (
        F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
        + F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.lo").alias("la"),
            F.col("a.hi").alias("ha"),
            F.col("b.lo").alias("lb"),
            F.col("b.hi").alias("hb"),
        )
        .distinct()
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def media_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: aHash perceptual near-dup pairs over the
    synthetic media payloads (documents-as-media convention)."""
    from inf2106_map_reduce_spark.tables import load_table

    return perceptual_hash_pairs(load_table(spark, sf_dir, "documents"))
