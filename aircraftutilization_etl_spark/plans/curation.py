"""End-to-end corpus-curation funnel — the engine's flagship
training-data query.

One query composes the curation operators the way a production pipeline
chains them — quality filter → language filter → exact dedup →
benchmark decontamination — and reports the funnel: documents and bytes
surviving each stage. Every stage decision is replayed exactly by the
DuckDB oracle (same thresholds, same md5 fingerprints, same shingle
collisions), so the whole pipeline's row-level behavior is checked, not
just each operator in isolation.

Plan shape: per-document stage booleans are computed in one projection
chain — the dedup representative via a fingerprint-partitioned window
restricted to prior-stage survivors, the contamination verdict via the
broadcast benchmark probe — then a SINGLE aggregation emits the five
conditional (count, bytes) pairs, unpivoted with ``stack`` into funnel
rows. Adding a stage adds a projection, not a pass. The parquet is
scanned three times (row metrics, corpus shingles, benchmark shingles —
scans are the cheap part), but text is only ever shuffled once, in its
raw smallest form, by the contamination probe's id repartition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.contamination import benchmark_shingle_set, contamination_report
from ..operators.distribute import ensure_scan_parallelism
from ..operators.sampling import hash_split
from ..operators.text import (
    fingerprint_expr,
    quality_score_expr,
    stopword_ratio_expr,
)
from .catalog import query, table
from .text import _MWL, _N_TOKENS, _PUNCT_RATIO, _STOP_RATIO

QUALITY_MIN = 0.95
STOP_MIN = 0.05
# decontamination policy: drop on substantial overlap (≥10% of the
# document's shingles found in the benchmark), not single-collision —
# 3-gram single hits are ubiquitous in natural text
CONTAM_PPM_MAX = 100_000

_TRAIN_BOUND = "e666"  # 0.9 * 16^4, as in q_split_train_val / contamination

_QUALITY_SQL = f"""ROUND((
      (CASE WHEN {_N_TOKENS} >= 20 THEN 1.0 ELSE {_N_TOKENS} / 20.0 END)
    + (CASE WHEN {_MWL} BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
    + (1.0 - least({_PUNCT_RATIO} * 5, 1.0))
) / 3, 4)"""


@query(
    "q_curation_funnel",
    f"""
    WITH train AS (
        SELECT doc_id, text, n_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '{_TRAIN_BOUND}'
    ),
    bench_shingles AS (
        SELECT DISTINCT
               array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                   AS shingle
        FROM (SELECT regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents
              WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                        >= '{_TRAIN_BOUND}') t,
             LATERAL unnest(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3
    ),
    train_shingles AS (
        SELECT DISTINCT doc_id,
               array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                   AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM train) t,
             LATERAL unnest(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3
    ),
    contam AS (
        SELECT s.doc_id,
               COUNT(b.shingle) * 1000000
                   // COUNT(*) AS hit_ppm
        FROM train_shingles s
          LEFT JOIN bench_shingles b USING (shingle)
        GROUP BY s.doc_id
    ),
    staged AS (
        SELECT t.doc_id, t.n_chars,
               ({_QUALITY_SQL} >= {QUALITY_MIN}) AS b1,
               ({_QUALITY_SQL} >= {QUALITY_MIN}
                AND {_STOP_RATIO} > {STOP_MIN}) AS b2,
               md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
                   AS fp,
               COALESCE(c.hit_ppm, 0) < {CONTAM_PPM_MAX} AS clean
        FROM train t LEFT JOIN contam c USING (doc_id)
    ),
    flags AS (
        SELECT doc_id, n_chars, b1, b2, clean,
               (b2 AND doc_id = MIN(CASE WHEN b2 THEN doc_id END)
                           OVER (PARTITION BY fp)) AS b3
        FROM staged
    ),
    final AS (
        SELECT doc_id, n_chars, b1, b2, b3, (b3 AND clean) AS b4 FROM flags
    )
    SELECT stage,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars
    FROM (
        SELECT '0_raw' AS stage, COUNT(*) AS n_docs,
               COALESCE(SUM(n_chars), 0) AS n_chars FROM final
        UNION ALL
        SELECT '1_quality', SUM(CASE WHEN b1 THEN 1 ELSE 0 END),
               COALESCE(SUM(CASE WHEN b1 THEN n_chars END), 0) FROM final
        UNION ALL
        SELECT '2_language', SUM(CASE WHEN b2 THEN 1 ELSE 0 END),
               COALESCE(SUM(CASE WHEN b2 THEN n_chars END), 0) FROM final
        UNION ALL
        SELECT '3_dedup', SUM(CASE WHEN b3 THEN 1 ELSE 0 END),
               COALESCE(SUM(CASE WHEN b3 THEN n_chars END), 0) FROM final
        UNION ALL
        SELECT '4_decontaminated', SUM(CASE WHEN b4 THEN 1 ELSE 0 END),
               COALESCE(SUM(CASE WHEN b4 THEN n_chars END), 0) FROM final
    )
    ORDER BY stage
    """,
)
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation funnel: quality ≥ 0.95 → stopword-heuristic
    language gate → exact-dedup representative (min surviving id per
    fingerprint) → benchmark decontamination (≥10% shingle overlap
    drops the doc); reports (documents, characters) after each stage.

    Scale: all per-row metrics come from projection chains over the
    scan; the only data-sized shuffles are the fingerprint window
    (dedup) and the contamination probe's id partitioning — the
    benchmark set is broadcast. The funnel itself is one aggregate +
    stack, so adding stages costs projections, not passes.
    """
    d = table(spark, sf_dir, "documents")
    tagged = hash_split(d, "doc_id", {"train": 0.9, "benchmark": 0.1})
    # spread the heavy per-row stage metrics (quality fold, stopword
    # filter, fingerprint md5) across the cluster when the scan is a
    # single small split — the contam join below broadcasts its small
    # side, so without this the whole projection chain runs in the
    # scan's own (possibly single) task. No-op at corpus scale.
    train = ensure_scan_parallelism(
        tagged.filter(F.col("split") == "train"), "doc_id"
    )
    bench = tagged.filter(F.col("split") == "benchmark")

    contam = contamination_report(
        train, benchmark_shingle_set(bench)
    ).select("doc_id", "hit_ppm")

    staged = (
        train.join(contam, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            (quality_score_expr() >= QUALITY_MIN).alias("b1_q"),
            (stopword_ratio_expr() > STOP_MIN).alias("__lang"),
            fingerprint_expr().alias("__fp"),
            (F.coalesce(F.col("hit_ppm"), F.lit(0)) < CONTAM_PPM_MAX).alias(
                "__clean"
            ),
        )
        .withColumn("b2", F.col("b1_q") & F.col("__lang"))
    )
    w = Window.partitionBy("__fp")
    flags = staged.select(
        "doc_id",
        "n_chars",
        F.col("b1_q").alias("b1"),
        "b2",
        (
            F.col("b2")
            & (
                F.col("doc_id")
                == F.min(F.when(F.col("b2"), F.col("doc_id"))).over(w)
            )
        ).alias("b3"),
        "__clean",
    ).withColumn("b4", F.col("b3") & F.col("__clean"))

    agg = flags.agg(
        F.count(F.lit(1)).alias("c0"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).alias("h0"),
        F.sum(F.when(F.col("b1"), 1).otherwise(0)).alias("c1"),
        F.coalesce(F.sum(F.when(F.col("b1"), F.col("n_chars"))), F.lit(0)).alias("h1"),
        F.sum(F.when(F.col("b2"), 1).otherwise(0)).alias("c2"),
        F.coalesce(F.sum(F.when(F.col("b2"), F.col("n_chars"))), F.lit(0)).alias("h2"),
        F.sum(F.when(F.col("b3"), 1).otherwise(0)).alias("c3"),
        F.coalesce(F.sum(F.when(F.col("b3"), F.col("n_chars"))), F.lit(0)).alias("h3"),
        F.sum(F.when(F.col("b4"), 1).otherwise(0)).alias("c4"),
        F.coalesce(F.sum(F.when(F.col("b4"), F.col("n_chars"))), F.lit(0)).alias("h4"),
    )
    return agg.selectExpr(
        "stack(5, '0_raw', c0, h0, '1_quality', c1, h1, "
        "'2_language', c2, h2, '3_dedup', c3, h3, "
        "'4_decontaminated', c4, h4) AS (stage, n_docs, n_chars)"
    ).selectExpr(
        "stage",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_chars AS BIGINT) AS n_chars",
    )
