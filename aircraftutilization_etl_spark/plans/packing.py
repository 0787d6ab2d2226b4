"""Sequence-packing queries (operators/packing.py).

The oracle replays the greedy fill recurrence with a recursive CTE —
one recursion step per within-bucket rank, all buckets advancing in
parallel — so Spark's per-bucket linear pass and DuckDB must agree on
every document's (bucket, seq_id, offset) placement exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.packing import PACK_CAPACITY, pack_sequences, packing_efficiency
from .catalog import query, table

# shared CTE chain ending in `packed` = (bucket, rn, doc_id, n_tokens,
# seq_id, offset, fill); mirrors pack_sequences exactly
_PACKED_CTES = f"""
    sized AS (
        SELECT substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS bucket,
               md5(CAST(doc_id AS VARCHAR)) AS ord,
               doc_id,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    ordered AS (
        SELECT bucket, doc_id, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY ord, doc_id)
                   AS rn
        FROM sized
    ),
    packed AS (
        SELECT bucket, rn, doc_id, n_tokens,
               0::BIGINT AS seq_id, 0::BIGINT AS "offset",
               n_tokens AS fill
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.bucket, o.rn, o.doc_id, o.n_tokens,
               CASE WHEN p.fill + o.n_tokens <= {PACK_CAPACITY}
                    THEN p.seq_id ELSE p.seq_id + 1 END,
               CASE WHEN p.fill + o.n_tokens <= {PACK_CAPACITY}
                    THEN p.fill ELSE 0 END,
               CASE WHEN p.fill + o.n_tokens <= {PACK_CAPACITY}
                    THEN p.fill + o.n_tokens ELSE o.n_tokens END
        FROM packed p JOIN ordered o
          ON o.bucket = p.bucket AND o.rn = p.rn + 1
    )
"""


@query(
    "q_pack_sequences",
    f"""
    WITH RECURSIVE {_PACKED_CTES}
    SELECT bucket, seq_id, doc_id, n_tokens, "offset"
    FROM packed
    ORDER BY bucket, seq_id, "offset"
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget packing of the corpus into 256-token training
    sequences: every document's (bucket, seq_id, offset) placement,
    deterministic under any partitioning.

    Scale: one shuffle on the 16-way md5 bucket, then a vectorized
    linear pass per bucket over (id, n_tokens) pairs only — raw text
    never moves. Widen the bucket prefix for more parallelism at larger
    corpora; placement within a bucket is partitioning-independent
    either way.
    """
    return pack_sequences(table(spark, sf_dir, "documents")).select(
        "bucket", "seq_id", "doc_id", "n_tokens", "offset"
    )


@query(
    "q_pack_efficiency",
    f"""
    WITH RECURSIVE {_PACKED_CTES},
    per_seq AS (
        SELECT bucket, seq_id, SUM(n_tokens) AS seq_tokens
        FROM packed GROUP BY bucket, seq_id
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_sequences,
           CAST(SUM(seq_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(seq_tokens) * 1000000
                // (COUNT(*) * {PACK_CAPACITY}) AS BIGINT) AS fill_ppm
    FROM per_seq
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def q_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing audit: sequences produced and exact integer-ppm budget
    utilization per bucket — the dataset-card number that tells a
    training team how much context window the packing wastes.

    Scale: reuses the packing's bucket partitioning; both aggregations
    land on already-bucketed data.
    """
    return packing_efficiency(pack_sequences(table(spark, sf_dir, "documents")))


_BUCKET_CASE = """CASE WHEN n_tokens <= 16 THEN 16
                       WHEN n_tokens <= 32 THEN 32
                       WHEN n_tokens <= 64 THEN 64
                       ELSE NULL END"""


@query(
    "q_pack_length_buckets",
    f"""
    WITH sized AS (
        SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ord,
               CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ),
    bb AS (
        SELECT {_BUCKET_CASE} AS bucket, n_tokens,
               CAST((ROW_NUMBER() OVER (
                         PARTITION BY {_BUCKET_CASE}
                         ORDER BY ord, doc_id) - 1) // 8 AS BIGINT) AS batch_id
        FROM sized
    ),
    bba AS (
        SELECT bucket, batch_id, COUNT(*) AS n, MAX(n_tokens) AS mx,
               SUM(n_tokens) AS s
        FROM bb GROUP BY bucket, batch_id
    ),
    buck AS (
        SELECT 'bucketed' AS policy, CAST(bucket AS BIGINT) AS bucket,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_batches,
               CAST(SUM(s) AS BIGINT) AS actual_tokens,
               CAST(SUM(mx * n) AS BIGINT) AS padded_tokens
        FROM bba GROUP BY bucket
    ),
    gb AS (
        SELECT n_tokens,
               CAST((ROW_NUMBER() OVER (ORDER BY ord, doc_id) - 1) // 8
                    AS BIGINT) AS batch_id
        FROM sized
    ),
    gba AS (
        SELECT batch_id, COUNT(*) AS n, MAX(n_tokens) AS mx,
               SUM(n_tokens) AS s
        FROM gb GROUP BY batch_id
    ),
    gtot AS (
        SELECT 'global' AS policy, CAST(NULL AS BIGINT) AS bucket,
               CAST(SUM(n) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_batches,
               CAST(SUM(s) AS BIGINT) AS actual_tokens,
               CAST(SUM(mx * n) AS BIGINT) AS padded_tokens
        FROM gba
    ),
    u AS (SELECT * FROM buck UNION ALL SELECT * FROM gtot)
    SELECT policy, bucket, n_docs, n_batches, actual_tokens, padded_tokens,
           CAST((padded_tokens - actual_tokens) * 1000000 // padded_tokens
                AS BIGINT) AS waste_ppm
    FROM u
    ORDER BY policy, bucket
    """,
)
def q_pack_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-padding waste of length-bucketed batching (edges 16/32/64
    tokens + overflow bucket, batch size 8) vs the shuffled-global
    baseline — the audit that justifies bucketing a corpus before batch
    assembly. The oracle rebuilds every batch from the same md5 order,
    so batch membership, per-batch maxima, and the integer waste ratios
    must all agree.

    Scale: bucketed path = one exchange on the bucket key + per-bucket
    rank; the global baseline's corpus-wide contiguous index routes
    through the two-phase range-partitioned running count instead of a
    single-partition window.
    """
    from ..operators.packing import padding_audit

    d = table(spark, sf_dir, "documents")
    return padding_audit(d).orderBy("policy", "bucket")
