"""Multimodal-column queries (operators/multimodal.py).

Media assets derive deterministically from ``documents``
(attach_fake_media), so the mapInPandas pipelines have closed-form SQL
oracles wherever the stub codec's arithmetic is SQL-expressible. The
feature-extraction query keeps the full decoded-signal histogram and is
rows-only checked (the byte-level decode is not SQL-expressible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import (
    FRAME_BYTES,
    attach_fake_media,
    extract_features,
    resize_images,
    sample_frames,
)
from .catalog import query, table

# media_type assignment used by attach_fake_media, as SQL
_MEDIA_TYPE = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'"
    " ELSE 'video' END"
)
_N_BYTES = "octet_length(encode(text))"


@query(
    "q_media_metadata_stats",
    f"""
    SELECT {_MEDIA_TYPE} AS media_type,
           CAST(COUNT(*) AS BIGINT) AS n_assets,
           CAST(SUM({_N_BYTES}) AS BIGINT) AS total_bytes,
           CAST(SUM(CAST(CEIL({_N_BYTES} / {FRAME_BYTES}.0) AS BIGINT))
                AS BIGINT) AS total_frames
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_media_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rollup of the media-asset table.

    Scale: the aggregation touches only media_type, payload length and
    the metadata struct — Catalyst prunes the binary payload out of the
    scan entirely (ReadSchema excludes it), which is the whole point of
    the payload/metadata split at 100 TB.
    """
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_assets"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.sum(F.col("meta.n_frames").cast("bigint")).alias("total_frames"),
        )
        .orderBy("media_type")
    )


@query(
    "q_media_frame_sample",
    f"""
    WITH video AS (
        SELECT doc_id AS asset_id,
               CAST(CEIL({_N_BYTES} / {FRAME_BYTES}.0) AS BIGINT) AS n_frames
        FROM documents
        WHERE doc_id % 3 = 2 AND {_N_BYTES} > 0
    )
    SELECT asset_id,
           CAST((n_frames - 1) // 4 + 1 AS BIGINT) AS n_sampled,
           CAST(4 * ((n_frames - 1) // 4) AS INT) AS max_frame_index
    FROM video
    ORDER BY asset_id
    """,
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (every 4th frame) of video assets via the
    row-expanding mapInPandas kernel, rolled up per asset.

    The expansion happens partition-local (no shuffle); only the final
    per-asset count aggregates across the cluster.
    """
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    frames = sample_frames(media)
    return (
        frames.groupBy("asset_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.max("frame_index").alias("max_frame_index"),
        )
        .orderBy("asset_id")
    )


@query(
    "q_media_resize",
    f"""
    SELECT doc_id AS asset_id,
           CAST(768 AS BIGINT) AS payload_bytes,
           32 AS width, 24 AS height
    FROM documents
    WHERE doc_id % 3 = 0
    ORDER BY asset_id
    """,
)
def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize every image asset to 32×24 through the stub codec and
    verify payload/metadata agree — exercises the decode→transform→
    re-encode mapInPandas path end-to-end."""
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    resized = resize_images(media, width=32, height=24)
    return resized.select(
        "asset_id",
        F.octet_length("payload").cast("bigint").alias("payload_bytes"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


@query(
    "q_media_feature_extract",
    f"""
    WITH chars AS (
        SELECT doc_id AS asset_id,
               ord(substr(text, CAST(i AS INT), 1)) // 16 AS bin
        FROM documents, LATERAL unnest(range(1, length(text) + 1)) AS u(i)
    ),
    counts AS (
        SELECT asset_id, bin, COUNT(*) AS n FROM chars GROUP BY asset_id, bin
    ),
    totals AS (SELECT asset_id, COUNT(*) AS total FROM chars GROUP BY asset_id)
    SELECT d.doc_id AS asset_id,
           {_MEDIA_TYPE} AS media_type,
           'byteview' AS decode_path,
           CAST(b.bin AS INT) AS bin,
           ROUND(COALESCE(c.n, 0) * 1.0 / t.total, 6) AS weight
    FROM documents d
      CROSS JOIN (SELECT CAST(r AS INT) AS bin FROM range(0, 16) v(r)) b
      JOIN totals t ON t.asset_id = d.doc_id
      LEFT JOIN counts c ON c.asset_id = d.doc_id AND c.bin = b.bin
    ORDER BY asset_id, bin
    """,
)
def q_media_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-histogram feature vectors for every asset, exploded to one
    row per (asset, bin) with its L1 weight — which makes the whole
    Python decode-and-featurize path (mapInPandas → numpy bincount)
    verifiable bin-by-bin against SQL replaying the same high-nibble
    histogram. Weights are a single double division rounded at the edge,
    so engines agree exactly. (The corpus is ASCII, so SQL's per-char
    ord equals the kernel's per-byte view; a real codec would be
    stubbed-rows-only like the pre-upgrade version of this query.)

    ``decode_path`` (r6, ADVICE r5) reports which codec branch ran per
    asset — the fixture's text payloads can never match an image magic,
    so the oracle pins the literal 'byteview'; if real media ever enters
    the corpus, an environment missing the optional Pillow codec shows
    up as a hash mismatch here instead of silently divergent features."""
    media = attach_fake_media(table(spark, sf_dir, "documents"))
    feats = extract_features(media)
    return feats.select(
        "asset_id",
        "media_type",
        "decode_path",
        F.posexplode("features").alias("bin", "__w"),
    ).select(
        "asset_id",
        "media_type",
        "decode_path",
        F.col("bin").cast("int").alias("bin"),
        F.round("__w", 6).alias("weight"),
    )


@query(
    "q_media_phash_near_dup",
    """
    WITH bytes AS (
        SELECT doc_id,
               CAST(i AS BIGINT) AS i,
               ascii(substring(text, CAST(i AS INT), 1)) AS v,
               length(text) AS n
        FROM documents, LATERAL unnest(range(1, length(text) + 1)) AS u(i)
    ),
    blocks AS (
        SELECT doc_id,
               (i - 1) * 32 // n AS blk,
               SUM(v) AS bsum,
               COUNT(*) AS blen,
               MAX(n) AS n
        FROM bytes
        GROUP BY doc_id, (i - 1) * 32 // n
    ),
    tot AS (SELECT doc_id, SUM(bsum) AS total, MAX(n) AS n
            FROM blocks GROUP BY doc_id),
    -- all 32 blocks per doc, not just occupied ones: a payload with
    -- fewer bytes than blocks must still hash to the fixed 32-bit
    -- width the band slicing assumes (empty blocks compare 0 >= 0 ->
    -- '1', exactly the engine kernel's documented padding)
    grid AS (
        SELECT t.doc_id, CAST(g.b AS BIGINT) AS blk, t.total, t.n,
               COALESCE(bl.bsum, 0) AS bsum, COALESCE(bl.blen, 0) AS blen
        FROM tot t CROSS JOIN (SELECT r AS b FROM range(0, 32) v(r)) g
        LEFT JOIN blocks bl ON bl.doc_id = t.doc_id AND bl.blk = g.b
    ),
    hashes AS (
        SELECT doc_id,
               string_agg(CASE WHEN bsum * n >= total * blen
                               THEN '1' ELSE '0' END, '' ORDER BY blk)
                   AS phash
        FROM grid
        GROUP BY doc_id
    ),
    banded AS (
        SELECT doc_id, phash, b AS band,
               substring(phash, CAST(b * 8 + 1 AS INT), 8) AS band_key
        FROM hashes, LATERAL unnest(range(0, 4)) AS u(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
               a.phash AS ph_a, b.phash AS ph_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
    FROM (
        SELECT id_a, id_b,
               list_sum(list_transform(range(1, 33), i ->
                   CASE WHEN substring(ph_a, CAST(i AS INT), 1)
                             = substring(ph_b, CAST(i AS INT), 1)
                        THEN 0 ELSE 1 END)) AS hamming
        FROM cand
    )
    WHERE hamming <= 3
    ORDER BY id_a, id_b
    """,
)
def q_media_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate media assets: 32-bit block-average
    aHash over every decoded payload (exact integer mean comparisons),
    banded-LSH candidate pairs (4 × 8-bit slices), Hamming ≤ 3 verify.
    The image-dedup screen a multimodal curation pipeline runs before
    pixel-exact comparison — here over the deterministic fake codec, so
    the oracle replays every hash bit, every candidate and every
    Hamming distance from the raw bytes.

    Scale: hashing is a per-row Arrow-batched kernel (payload column
    only — metadata pruned); the self-join runs on (band, band_key)
    buckets so only near-identical hashes meet; verification is a
    32-step codegen'd fold on candidates only.
    """
    from ..operators.multimodal import perceptual_hash, phash_near_dup

    media = attach_fake_media(table(spark, sf_dir, "documents"))
    return phash_near_dup(perceptual_hash(media))
