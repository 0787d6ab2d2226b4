"""Multimodal (image/audio/video) column operators.

Media assets are opaque ``BinaryType`` payloads plus a typed metadata
struct — the standard large-scale layout: bytes stay columnar in parquet,
metadata is queryable without touching payloads, and Catalyst prunes the
payload column away for metadata-only queries.

Decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` kernels: per-partition, vectorized over record batches,
never materialized on the driver. The actual codec step is STUBBED —
image/audio libraries are not available in this environment — behind
``_decode_payload``, a deterministic fake that derives "pixels" from the
raw bytes. The Spark-side plumbing (schemas, UDF signatures, Arrow batch
shapes, row-expansion for frame sampling) is real and tested; swapping
the stub for Pillow/librosa/pyav changes no plan shape.

Scale notes:
- all kernels are per-row maps — no shuffle; partitioning of the input
  carries through;
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds batch memory
  (payloads are large — size it so batch_size × payload ≲ executor RAM);
- frame sampling expands rows inside the partition (no explode-shuffle).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_METADATA_FIELDS = [
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_frames", IntegerType()),
    StructField("codec", StringType()),
]

MEDIA_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("meta", StructType(MEDIA_METADATA_FIELDS)),
    ]
)

FRAME_BYTES = 32  # fake-codec frame size (bytes per frame)
FEATURE_DIM = 16  # byte-histogram feature dimensionality

FEATURES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("media_type", StringType()),
        StructField("features", ArrayType(DoubleType())),
        # which codec path produced the signal ('pillow' | 'byteview'):
        # makes environment-dependent decode output DETECTABLE rather
        # than silent when real media meets an environment without the
        # optional codec (ADVICE r5)
        StructField("decode_path", StringType()),
    ]
)

FRAMES_SCHEMA = StructType(
    [
        StructField("asset_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame", BinaryType()),
    ]
)


def attach_fake_media(documents: DataFrame) -> DataFrame:
    """documents → deterministic media-asset table (MEDIA_SCHEMA).

    Stand-in for a real ingest (S3 object scan / tar shards): payload is
    the utf-8 text bytes, media_type cycles image/audio/video by doc_id,
    metadata derives from payload length. Pure column expressions — the
    deterministic fixture both tests and SQL oracles can reproduce.
    """
    payload = F.encode(F.col("text"), "utf-8")
    n_bytes = F.octet_length(F.col("text"))
    media_type = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        media_type.alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.when(media_type == "image", (n_bytes % 64 + 16).cast("int")).alias("width"),
            F.when(media_type == "image", (n_bytes % 48 + 16).cast("int")).alias("height"),
            F.when(media_type == "audio", F.lit(16000)).cast("int").alias("sample_rate"),
            F.ceil(n_bytes / FRAME_BYTES).cast("int").alias("n_frames"),
            F.lit("fake-v1").alias("codec"),
        ).alias("meta"),
    )


# Real-codec dispatch (r5): payloads that carry an actual image
# container signature decode through Pillow WHEN IT IS INSTALLED (an
# optional extra — this sandbox ships without it); everything else, and
# every environment without the codec, takes the deterministic byte-view
# fake. The synthetic fixture's payloads are utf-8 text bytes, which can
# never match a container magic — so the SQL oracles' closed-form fake
# replay stays exact whether or not Pillow is present.
_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
_JPEG_MAGIC = b"\xff\xd8\xff"


def _looks_like_image(payload: bytes) -> bool:
    return payload[:8] == _PNG_MAGIC or payload[:3] == _JPEG_MAGIC


def _real_image_decode(payload: bytes) -> np.ndarray | None:
    """Pillow-backed decode → flat uint8 grayscale pixels, or None when
    the optional codec is unavailable / the container is corrupt (the
    caller then falls back to the byte-view fake, keeping the pipeline
    total — a quarantine screen can route on metadata instead)."""
    try:
        from PIL import Image
    except ImportError:
        return None
    import io

    try:
        with Image.open(io.BytesIO(payload)) as im:
            return np.asarray(im.convert("L"), dtype=np.uint8).ravel()
    except Exception:  # corrupt container — fall back, don't kill the job
        return None


def _decode_payload_with_path(payload: bytes) -> tuple[np.ndarray, str]:
    """Codec step: real image decode where the payload is a real image
    AND Pillow is installed; deterministic byte-view fake otherwise.
    Returns (signal, path) with path 'pillow' or 'byteview' so callers
    can surface WHICH environment-dependent branch ran.

    The uint8 flat-ndarray contract is identical on both paths, so every
    downstream kernel (histogram features, resize, frame slice, pHash)
    and every plan shape is unchanged by the dispatch. Audio/video
    codecs (soundfile/pyav) would slot in the same way.
    """
    if _looks_like_image(payload):
        decoded = _real_image_decode(payload)
        if decoded is not None:
            return decoded, "pillow"
    return np.frombuffer(payload, dtype=np.uint8), "byteview"


def _decode_payload(payload: bytes) -> np.ndarray:
    return _decode_payload_with_path(payload)[0]


def extract_features(media: DataFrame) -> DataFrame:
    """Per-asset feature vector: L1-normalized ``FEATURE_DIM``-bin byte
    histogram of the decoded signal (a stand-in for an embedding model).

    mapInPandas kernel: one numpy pass per Arrow batch, no shuffle.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep, feats, paths = [], [], []
            for idx, payload in enumerate(pdf["payload"]):
                signal, path = _decode_payload_with_path(bytes(payload))
                if signal.size == 0:
                    # a zero-byte asset has no feature vector (its L1
                    # weights are 0/0) — emit no row, matching the
                    # closed-form oracle's inner join on per-asset
                    # totals; an all-zero sentinel vector would also
                    # cluster every empty asset together downstream
                    continue
                keep.append(idx)
                paths.append(path)
                hist = np.bincount(signal >> 4, minlength=FEATURE_DIM)
                feats.append((hist / signal.size).tolist())
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"].iloc[keep].to_numpy(),
                    "media_type": pdf["media_type"].iloc[keep].to_numpy(),
                    # explicit object dtype: an all-dropped batch would
                    # otherwise infer an empty float64 column, which
                    # Arrow cannot convert to list<double>
                    "features": pd.Series(feats, dtype="object"),
                    "decode_path": pd.Series(paths, dtype="object"),
                }
            )

    return media.mapInPandas(kernel, FEATURES_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """video assets → one row per sampled frame (every 4th).

    Row-expanding mapInPandas: frames are fixed-size payload slices under
    the fake codec (a real pyav decode keeps the same output contract).
    Expansion happens inside the partition — no shuffle, unlike an
    explode over a pre-built array column which would first materialize
    every frame.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for asset_id, payload in zip(pdf["asset_id"], pdf["payload"]):
                raw = bytes(payload)
                n_frames = -(-len(raw) // FRAME_BYTES)
                for i in range(0, n_frames, 4):
                    ids.append(asset_id)
                    idxs.append(i)
                    frames.append(raw[i * FRAME_BYTES : (i + 1) * FRAME_BYTES])
            yield pd.DataFrame(
                {"asset_id": ids, "frame_index": idxs, "frame": frames}
            )

    return media.filter(F.col("media_type") == "video").mapInPandas(
        kernel, FRAMES_SCHEMA
    )


def resize_images(media: DataFrame, width: int, height: int) -> DataFrame:
    """image assets → payload re-encoded at (width, height).

    The resample itself is the stubbed codec step: the fake "resize"
    deterministically truncates/pads the decoded signal to width×height
    bytes. Metadata is updated for real — downstream metadata-only
    queries see the new dimensions without decoding.
    """
    target = width * height

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for payload in pdf["payload"]:
                signal = _decode_payload(bytes(payload))
                resized = np.resize(signal, target)  # stub resample
                out.append(resized.tobytes())
            pdf = pdf.copy()
            pdf["payload"] = out
            yield pdf

    images = media.filter(F.col("media_type") == "image")
    resized = images.mapInPandas(kernel, MEDIA_SCHEMA)
    return resized.withColumn(
        "meta",
        F.struct(
            F.lit(width).cast("int").alias("width"),
            F.lit(height).cast("int").alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.n_frames").alias("n_frames"),
            F.col("meta.codec").alias("codec"),
        ),
    )


PHASH_BLOCKS = 32  # perceptual-hash resolution (bits)
PHASH_MAX_HAMMING = 3  # near-dup radius of phash_near_dup (bits)


def perceptual_hash(media: DataFrame) -> DataFrame:
    """Block-average perceptual hash (aHash) of every decoded payload →
    (asset_id, media_type, phash) with ``phash`` a ``PHASH_BLOCKS``-char
    bit string.

    The decoded signal is split into ``PHASH_BLOCKS`` near-equal contiguous
    blocks (byte j → block j·B div n); bit b is 1 iff block b's mean
    amplitude ≥ the whole signal's mean, compared EXACTLY by integer
    cross-multiplication (block_sum·n ≥ total_sum·block_len) — no float
    means, so any engine derives the identical hash. The bit-string
    representation sidesteps 64-bit sign/overflow pitfalls and band
    slicing is plain substring.

    Scale: per-row Arrow-batched kernel over (id, payload) only — the
    metadata struct is pruned from the scan; no shuffle. This is the
    standard cheap screen before pixel-exact comparison in image dedup
    (real codecs swap into ``_decode_payload``; the hash algebra and
    plan shape are unchanged).

    The kernel is seconds-heavy per-row Python, so an under-partitioned
    small-file scan would serialize every asset through ONE Arrow task
    (profiled: a single 7 s task at bench scale) — spread the raw rows
    first (r11 opt; no-op at corpus scale).
    """
    from .distribute import ensure_scan_parallelism

    media = ensure_scan_parallelism(media, "asset_id")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out_ids, out_types, out_hashes = [], [], []
            for aid, mtype, payload in zip(
                batch["asset_id"], batch["media_type"], batch["payload"]
            ):
                sig = _decode_payload(bytes(payload)).astype(np.int64)
                n = len(sig)
                if n == 0:
                    # a zero-byte asset has no perceptual hash: a
                    # sentinel all-'0' hash would band-collide every
                    # empty asset with every other (quadratic false
                    # pairs at crawl scale) — emit no row, matching
                    # the oracle's per-byte CTEs which never produce a
                    # row for a byteless doc
                    continue
                else:
                    blk = (np.arange(n, dtype=np.int64) * PHASH_BLOCKS) // n
                    bsum = np.bincount(
                        blk, weights=sig, minlength=PHASH_BLOCKS
                    ).astype(np.int64)
                    blen = np.bincount(blk, minlength=PHASH_BLOCKS).astype(
                        np.int64
                    )
                    total = int(sig.sum())
                    flags = bsum * n >= total * blen
                    # empty blocks (n < PHASH_BLOCKS) compare 0 >= 0 -> 1,
                    # deterministically, matching the SQL replay
                    bits = "".join("1" if f else "0" for f in flags)
                out_ids.append(aid)
                out_types.append(mtype)
                out_hashes.append(bits)
            yield pd.DataFrame(
                {
                    "asset_id": out_ids,
                    "media_type": out_types,
                    "phash": out_hashes,
                }
            )

    return media.select("asset_id", "media_type", "payload").mapInPandas(
        kernel, "asset_id long, media_type string, phash string"
    )


def phash_near_dup(hashed: DataFrame) -> DataFrame:
    """Near-duplicate asset pairs by perceptual hash: banded LSH
    candidate generation (pairs agreeing exactly on ≥1 of 4
    hash slices) + exact Hamming verification ≤ ``PHASH_MAX_HAMMING``.

    Same shape as the MinHash pipeline: the self-join runs on
    (band, band_key) buckets — only near-identical hashes ever meet —
    and verification touches candidates only. All JVM expressions.
    """
    width = PHASH_BLOCKS // 4
    bands = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    F.substring("phash", b * width + 1, width).alias(
                        "band_key"
                    ),
                )
                for b in range(4)
            ]
        )
    ).alias("bk")
    banded = hashed.select("asset_id", "phash", bands).select(
        "asset_id",
        "phash",
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.asset_id") < F.col("b.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("b.asset_id").alias("id_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
    )
    hamming = F.expr(
        f"aggregate(sequence(1, {PHASH_BLOCKS}), 0, (acc, i) -> "
        "acc + IF(substring(ph_a, i, 1) = substring(ph_b, i, 1), 0, 1))"
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= PHASH_MAX_HAMMING)
        .select("id_a", "id_b", "hamming")
    )
