"""Sequence packing: greedy token-budget binning of documents into
fixed-capacity training sequences.

LLM pretraining consumes fixed-length sequences; feeding one short
document per sequence wastes most of the context window, so pipelines
pack documents back-to-back into a token budget. The assignment must be
DETERMINISTIC (a training run's data order is part of its provenance),
so Spark's nondeterministic partition order can't drive it. Scheme:

1. Route every document to a packing bucket by an md5 prefix of its id
   (16^prefix_len buckets) — stable, partitioning-independent.
2. Within a bucket, order documents by (md5(id), id) — a uniform
   reproducible pseudo-shuffle, the same idiom as operators/sampling.
3. Greedy sequential fill in that order: a document joins the current
   sequence if it fits, else opens the next one. Documents longer than
   the capacity get a sequence of their own (never split, never
   dropped) — truncation is the trainer's policy decision, not the
   packer's.

The fill recurrence is inherently sequential WITHIN a bucket, which is
exactly what ``applyInPandas`` per bucket expresses: one shuffle on the
bucket key, then a vectorized linear pass per group. Parallelism =
bucket count (choose prefix_len so buckets fit comfortably: each group
carries only (id, n_tokens) — 16 bytes/doc, so even 1 B docs over 256
buckets is ~64 MB/group). The per-bucket greedy is embarrassingly
parallel across buckets — the 100 TB plan is scan → project(tokens) →
one shuffle → linear pass, nothing quadratic anywhere.

The DuckDB oracle replays the identical recurrence with a recursive CTE
(one step per within-bucket rank), so sequence ids and offsets must
match row for row.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .text import token_count_expr

PACK_CAPACITY = 256  # token budget of one packed sequence


def pack_sequences(df: DataFrame) -> DataFrame:
    """Assign every document to (bucket, seq_id, offset) under a greedy
    ``PACK_CAPACITY``-token packing; returns one row per document.

    Output: ``bucket`` (md5-prefix hex, 16^prefix_len values), ``seq_id``
    (sequence ordinal within the bucket), ``doc_id``, ``n_tokens``
    (whitespace tokens), ``offset`` (token start within the sequence).
    """
    md5 = F.md5(F.col("doc_id").cast("string"))
    sized = df.select(
        F.substring(md5, 1, 1).alias("bucket"),
        md5.alias("__order"),
        F.col("doc_id"),
        token_count_expr().cast("long").alias("n_tokens"),
    )

    out_schema = (
        "bucket string, seq_id long, doc_id long, n_tokens long, offset long"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["__order", "doc_id"], kind="mergesort")
        seq_ids, offsets = [], []
        seq_id, fill = 0, 0
        for tok in pdf["n_tokens"]:
            if fill > 0 and fill + tok > PACK_CAPACITY:
                seq_id += 1
                fill = 0
            seq_ids.append(seq_id)
            offsets.append(fill)
            fill += tok
        return pd.DataFrame(
            {
                "bucket": pdf["bucket"],
                "seq_id": seq_ids,
                "doc_id": pdf["doc_id"],
                "n_tokens": pdf["n_tokens"],
                "offset": offsets,
            }
        )

    return sized.groupBy("bucket").applyInPandas(_pack, out_schema)


def packing_efficiency(packed: DataFrame) -> DataFrame:
    """Per-bucket packing audit: sequences produced, mean fill ppm.

    ``fill_ppm`` uses integer arithmetic (total tokens vs total budget
    of the bucket's sequences) so the ratio is exact and tie-free.
    """
    per_seq = packed.groupBy("bucket", "seq_id").agg(
        F.sum("n_tokens").alias("seq_tokens")
    )
    return per_seq.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_sequences"),
        F.sum("seq_tokens").alias("n_tokens"),
        F.expr(
            "CAST((SUM(seq_tokens) * 1000000) DIV "
            f"(COUNT(1) * {PACK_CAPACITY}) AS BIGINT)"
        ).alias("fill_ppm"),
    )


LENGTH_BUCKET_EDGES = (16, 32, 64)
PAD_BATCH_SIZE = 8  # documents per batch in padding_audit


def length_bucket_expr(n_tokens):
    """Smallest configured power-of-2-ish edge >= n_tokens; NULL for
    documents longer than the last edge (the overflow bucket).

    A CASE chain over fixed edges instead of ceil(log2(n)) — log2 on the
    bucket boundary is an ulp coin-flip across engines, an integer
    comparison chain is not.
    """
    expr = None
    for e in LENGTH_BUCKET_EDGES:
        cond = n_tokens <= e
        expr = F.when(cond, F.lit(e)) if expr is None else expr.when(cond, F.lit(e))
    return expr.otherwise(F.lit(None)).cast("long")


def padding_audit(df: DataFrame) -> DataFrame:
    """Padding-waste audit of length-bucketed batching vs shuffled
    global batching (``PAD_BATCH_SIZE`` documents per batch) — the
    measurement that justifies (or rejects) bucketing a corpus before
    batch assembly.

    Dynamic padding pads every batch to its own longest member, so
    waste = sum over batches of (batch_max * batch_size_actual - tokens).
    Batches are formed over the md5 pseudo-shuffle order (the same
    reproducible order the rest of the engine uses): once within each
    length bucket ('bucketed'), once over the whole corpus ('global'
    baseline). Output: one row per bucket plus one global row, each with
    docs/batches/actual/padded token counts and integer waste_ppm.

    Scale: the bucketed path is one exchange on the bucket key with
    per-bucket rank (bounded by bucket population like any per-group
    top-k); the global baseline needs a corpus-wide contiguous index,
    which routes through the two-phase range-partitioned running count
    (sampling.global_running_sum) — NOT a single-partition window. Both
    audits aggregate to |buckets|+1 rows with map-side combine.
    """
    from .sampling import global_running_sum

    md5 = F.md5(F.col("doc_id").cast("string"))
    sized = df.select(
        F.col("doc_id"),
        md5.alias("__ord"),
        token_count_expr().cast("long").alias("n_tokens"),
    )

    def _audit(batched: DataFrame, policy: str, bucket_col):
        per_batch = batched.groupBy(bucket_col.alias("bucket"), "batch_id").agg(
            F.count(F.lit(1)).alias("__n"),
            F.max("n_tokens").alias("__mx"),
            F.sum("n_tokens").alias("__s"),
        )
        return per_batch.groupBy("bucket").agg(
            F.sum("__n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum("__s").cast("bigint").alias("actual_tokens"),
            F.sum(F.col("__mx") * F.col("__n")).cast("bigint").alias("padded_tokens"),
        ).select(
            F.lit(policy).alias("policy"),
            "bucket",
            "n_docs",
            "n_batches",
            "actual_tokens",
            "padded_tokens",
            F.expr(
                "CAST((padded_tokens - actual_tokens) * 1000000 "
                "DIV padded_tokens AS BIGINT)"
            ).alias("waste_ppm"),
        )

    w = Window.partitionBy("bucket").orderBy("__ord", "doc_id")
    bucketed = sized.withColumn(
        "bucket", length_bucket_expr(F.col("n_tokens"))
    ).withColumn(
        "batch_id",
        F.floor((F.row_number().over(w) - 1) / PAD_BATCH_SIZE).cast("bigint"),
    )
    bucketed_audit = _audit(bucketed, "bucketed", F.col("bucket"))

    indexed = global_running_sum(
        sized.withColumn("__one", F.lit(1)),
        order_cols=["__ord", "doc_id"],
        value_col="__one",
        out_col="__idx",
    ).withColumn(
        "batch_id", F.expr(f"CAST((__idx - 1) DIV {PAD_BATCH_SIZE} AS BIGINT)")
    )
    global_audit = _audit(indexed, "global", F.lit(None).cast("long"))

    return bucketed_audit.unionByName(global_audit)
