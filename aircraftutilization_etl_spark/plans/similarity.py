"""Embedding similarity queries (operators/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.distribute import MODEL_CACHE, cache
from ..operators.similarity import (
    cosine_expr,
    cosine_pairs,
    cosine_topk,
    ivf_topk,
    srp_topk,
    quantize_embeddings,
)
from .catalog import query, table

TOP_K = 5
N_QUERIES = 50  # query set: vec_id < 50
NEAR_DUP_COSINE = 0.35

_COSINE_SQL = (
    "list_dot_product(qv, cv)"
    " / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))"
)


@query(
    "q_emb_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({_COSINE_SQL}, 6) AS cosine
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for the first 50 query vectors.

    Scale: the normalized query matrix ships to executors; the corpus
    streams through an Arrow-batched numpy GEMM (mapInPandas) — one scan,
    no shuffle for scoring, only the per-query top-k reduction. Cosine
    rounded to 6 dp before ranking for engine determinism.
    """
    e = table(spark, sf_dir, "embeddings")
    return cosine_topk(e.filter(F.col("vec_id") < N_QUERIES), e, TOP_K)


@query(
    "q_emb_ivf_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS cell,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, label AS cell,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({_COSINE_SQL}, 6) AS cosine
        FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-5: probe only the query's coarse cell (the
    ``label`` column stands in for the k-means cell id).

    Scale: replaces the corpus stream with a per-cell equi-join — scoring
    work divides by the cell count; the standard recall trade of probe=1.
    """
    e = table(spark, sf_dir, "embeddings")
    return ivf_topk(e.filter(F.col("vec_id") < N_QUERIES), e, TOP_K)


@query(
    "q_emb_near_dup_pairs",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(b.e, b.e))) >= {NEAR_DUP_COSINE}
    ORDER BY id_a, id_b
    """,
)
def q_emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cosine ≥ 0.35 — the synthetic embeddings are diffuse, so the threshold sits at the ~99.9th pairwise percentile) — the
    semantic-dedup member of the dedup family.

    Scale: exact all-pairs via a blocked self-join — the corpus is
    packed into executor-side (ids, matrix) blocks, block-pair tasks are
    exploded, and each pair is one dense GEMM with the threshold filter
    inside the kernel; nothing touches the driver. The LSH/IVF
    bucketing (q_emb_ivf_topk) is the same operator's sub-quadratic path.
    """
    e = table(spark, sf_dir, "embeddings")
    return cosine_pairs(e, NEAR_DUP_COSINE)


@query(
    "q_emb_label_centroids",
    """
    WITH v AS (SELECT label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    dims AS (SELECT label, i, e[CAST(i AS INT)] AS x
             FROM v, LATERAL unnest(range(1, 65)) AS u(i))
    SELECT label, CAST(COUNT(DISTINCT i) AS BIGINT) AS dim,
           CAST(COUNT(*) / COUNT(DISTINCT i) AS BIGINT) AS n_vectors,
           ROUND(SUM(x * x) / (COUNT(*) / COUNT(DISTINCT i)), 6) AS mean_sq_norm
    FROM dims
    GROUP BY label
    ORDER BY label
    """,
)
def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell vector stats (count, dimensionality, mean squared norm) —
    the bookkeeping aggregate an IVF index maintains per cell."""
    e = table(spark, sf_dir, "embeddings")
    v = e.select(
        "label", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    return (
        v.select(
            "label",
            F.size("e").alias("dim"),
            F.aggregate("e", F.lit(0.0), lambda acc, x: acc + x * x).alias("sq"),
        )
        .groupBy("label")
        .agg(
            F.max(F.col("dim")).cast("bigint").alias("dim"),
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.sum("sq") / F.count(F.lit(1)), 6).alias("mean_sq_norm"),
        )
        .select("label", "dim", "n_vectors", "mean_sq_norm")
        .orderBy("label")
    )


@query(
    "q_emb_srp_topk",
    f"""
    WITH planes AS (
        SELECT p, d,
               CASE WHEN substr(md5(p || '_' || d), 1, 1) >= '8'
                    THEN 1.0 ELSE -1.0 END AS h
        FROM range(0, 8) t(p), range(0, 64) u(d)
    ),
    plane_vecs AS (SELECT p, list(h ORDER BY d) AS hv FROM planes GROUP BY p),
    keys AS (
        SELECT vec_id, p // 4 AS band,
               string_agg(
                   CASE WHEN ROUND(list_dot_product(
                            CAST(embedding AS DOUBLE[]), hv), 6) > 0
                        THEN '1' ELSE '0' END, '' ORDER BY p) AS band_key
        FROM embeddings, plane_vecs
        GROUP BY vec_id, p // 4
    ),
    cand AS (
        SELECT DISTINCT kq.vec_id AS query_id, kc.vec_id AS neighbor_id
        FROM keys kq JOIN keys kc
          ON kq.band = kc.band AND kq.band_key = kc.band_key
        WHERE kq.vec_id < {N_QUERIES} AND kq.vec_id <> kc.vec_id
    ),
    q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({_COSINE_SQL}, 6) AS cosine
        FROM cand
          JOIN q ON q.vec_id = query_id
          JOIN c ON c.vec_id = neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_emb_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN top-5: candidates share a 4-bit
    signed-random-projection band with the query (2 bands × 4 bits over
    md5-derived ±1 planes); exact cosine re-ranks candidates.

    Unlike IVF this needs no precomputed clustering — buckets derive
    from the data. Scale: corpus band rows probe the broadcast query
    bands map-side; only candidate pairs shuffle. The oracle rebuilds
    the identical planes from md5, so bucket membership, candidates and
    ranks must all agree exactly.
    """
    e = table(spark, sf_dir, "embeddings")
    return srp_topk(e.filter(F.col("vec_id") < N_QUERIES), e, TOP_K)


@query(
    "q_emb_quantize_int8",
    """
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS scale
        FROM embeddings
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale,
           CAST(i - 1 AS INT) AS dim,
           CAST(CASE WHEN scale = 0 THEN 0
                     ELSE FLOOR(e[CAST(i AS INT)] * 127 / scale) END
                AS INT) AS q
    FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(i)
    ORDER BY vec_id, dim
    """,
)
def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of every embedding, exploded to one
    row per (vector, dim) so each of the 64 codes is oracle-checked
    exactly (floor-of-double is engine-portable; the scale is a max,
    not a sum, so no float-associativity hazard).

    Scale: per-row projection, zero shuffles; the int8 codes are what
    an ANN candidate stage would hold in memory — 4× smaller.
    """
    e = table(spark, sf_dir, "embeddings")
    qz = quantize_embeddings(e)
    return qz.select(
        "vec_id",
        "scale",
        F.posexplode("qvec").alias("dim", "q"),
    ).select("vec_id", "scale", F.col("dim").cast("int").alias("dim"), "q")


# Per-query recall@5 oracles for three rows of q_emb_ann_recall_report
# (plans/clustering.py): untrained label cells (IVF_RECALL_SQL), SRP-LSH
# bands (SRP_RECALL_SQL) and the 32-dim matryoshka prefix
# (MRL_RECALL_SQL), each against brute-force cosine ground truth.
IVF_RECALL_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id, label AS cell,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, label AS cell,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    ivf_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM (SELECT * FROM exact_scored WHERE rank <= {TOP_K}) e
      LEFT JOIN (SELECT * FROM ivf_scored WHERE rank <= {TOP_K}) i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


SRP_RECALL_SQL = f"""
    WITH planes AS (
        SELECT p, d,
               CASE WHEN substr(md5(p || '_' || d), 1, 1) >= '8'
                    THEN 1.0 ELSE -1.0 END AS h
        FROM range(0, 8) t(p), range(0, 64) u(d)
    ),
    plane_vecs AS (SELECT p, list(h ORDER BY d) AS hv FROM planes GROUP BY p),
    keys AS (
        SELECT vec_id, p // 4 AS band,
               string_agg(
                   CASE WHEN ROUND(list_dot_product(
                            CAST(embedding AS DOUBLE[]), hv), 6) > 0
                        THEN '1' ELSE '0' END, '' ORDER BY p) AS band_key
        FROM embeddings, plane_vecs
        GROUP BY vec_id, p // 4
    ),
    cand AS (
        SELECT DISTINCT kq.vec_id AS query_id, kc.vec_id AS neighbor_id
        FROM keys kq JOIN keys kc
          ON kq.band = kc.band AND kq.band_key = kc.band_key
        WHERE kq.vec_id < {N_QUERIES} AND kq.vec_id <> kc.vec_id
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    srp_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT cand.query_id, cand.neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY cand.query_id
                       ORDER BY ROUND({_COSINE_SQL}, 6) DESC,
                                cand.neighbor_id
                   ) AS rank
            FROM cand
              JOIN q ON q.query_id = cand.query_id
              JOIN c ON c.neighbor_id = cand.neighbor_id
        ) WHERE rank <= {TOP_K}
    ),
    exact_topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id
                       ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
                   ) AS rank
            FROM q CROSS JOIN c WHERE query_id <> neighbor_id
        ) WHERE rank <= {TOP_K}
    )
    SELECT e.query_id,
           CAST(COUNT(s.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(s.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM exact_topk e
      LEFT JOIN srp_topk s
        ON s.query_id = e.query_id AND s.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


MRL_DIMS = 32  # truncated prefix length (full vectors are 64-d)


MRL_RECALL_SQL = f"""
    WITH q AS (SELECT vec_id AS query_id,
                      CAST(embedding AS DOUBLE[]) AS qv,
                      CAST(embedding[1:{MRL_DIMS}] AS DOUBLE[]) AS qt
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id,
                      CAST(embedding AS DOUBLE[]) AS cv,
                      CAST(embedding[1:{MRL_DIMS}] AS DOUBLE[]) AS ct
               FROM embeddings),
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    trunc_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND(
                       list_dot_product(qt, ct)
                       / (sqrt(list_dot_product(qt, qt))
                          * sqrt(list_dot_product(ct, ct))), 6
                   ) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT e.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(t.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM (SELECT * FROM exact_scored WHERE rank <= {TOP_K}) e
      LEFT JOIN (SELECT * FROM trunc_scored WHERE rank <= {TOP_K}) t
        ON t.query_id = e.query_id AND t.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


RRF_QUERY_DOCS = (7, 42, 123)
RRF_LIST_K = 20
RRF_OUT_K = 10
_RRF_IDS = ", ".join(str(i) for i in RRF_QUERY_DOCS)


@query(
    "q_hybrid_rrf",
    f"""
    WITH qdocs AS (
        SELECT doc_id AS query_id, text FROM documents
        WHERE doc_id IN ({_RRF_IDS})),
    qterms AS (
        SELECT DISTINCT query_id, lower(t.w) AS term
        FROM qdocs, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)),
    words AS (
        SELECT doc_id, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    postings AS (
        SELECT q.query_id, q.term, tf.doc_id, tf.tf
        FROM tf JOIN qterms q ON tf.w = q.term),
    dft AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    lex_scored AS (
        SELECT p.query_id, p.doc_id,
               ROUND(SUM(
                   ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
               ), 6) AS score
        FROM postings p
          JOIN dft d USING (term)
          JOIN dl l USING (doc_id)
          CROSS JOIN stats s
        WHERE p.doc_id <> p.query_id
        GROUP BY p.query_id, p.doc_id),
    lex AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rank
            FROM lex_scored)
        WHERE rank <= {RRF_LIST_K}),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id IN ({_RRF_IDS})),
    c AS (SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    vec_scored AS (
        SELECT query_id, doc_id,
               ROUND(list_dot_product(qv, cv)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(cv, cv))), 6) AS cosine
        FROM q CROSS JOIN c WHERE query_id <> doc_id),
    vec AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, doc_id) AS rank
            FROM vec_scored)
        WHERE rank <= {RRF_LIST_K}),
    fused AS (
        SELECT COALESCE(l.query_id, v.query_id) AS query_id,
               COALESCE(l.doc_id, v.doc_id) AS doc_id,
               l.rank AS lex_rank, v.rank AS vec_rank,
               COALESCE(1000000000 // (60 + l.rank), 0)
               + COALESCE(1000000000 // (60 + v.rank), 0) AS rrf
        FROM lex l FULL OUTER JOIN vec v
          ON l.query_id = v.query_id AND l.doc_id = v.doc_id)
    SELECT query_id, doc_id, CAST(rrf AS BIGINT) AS rrf_score_e9,
           CAST(lex_rank AS INT) AS lex_rank,
           CAST(vec_rank AS INT) AS vec_rank, CAST(rank AS INT) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS rank
          FROM fused)
    WHERE rank <= {RRF_OUT_K}
    ORDER BY query_id, rank
    """,
)
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of BM25 (document-as-
    query keyword search) and exact cosine (embedding search) top-20
    lists for three query documents, fused top-10 per query.

    The retrieval pattern of modern RAG/curation stacks: the lexical
    side catches exact-term matches embeddings blur, the vector side
    catches paraphrases keywords miss, and RRF needs no score
    calibration between the two. Integer-scaled 1/(60+rank) makes the
    fused cut engine-exact.

    Scale: both lists are top-k-bounded before fusion; BM25 touches
    only matching postings, cosine streams the corpus once (GEMM); the
    fusion join is |queries| x k.
    """
    from ..operators.similarity import rrf_fuse
    from ..operators.text import bm25_topk, words_expr

    d = table(spark, sf_dir, "documents")
    e = table(spark, sf_dir, "embeddings")
    qids = list(RRF_QUERY_DOCS)
    qt = (
        d.filter(F.col("doc_id").isin(qids))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(
                F.array_distinct(
                    F.transform(words_expr(), lambda w: F.lower(w))
                )
            ).alias("term"),
        )
    )
    lex = bm25_topk(d, qt, RRF_LIST_K, exclude_self=True).select(
        "query_id", "doc_id", "rank"
    )
    vec = cosine_topk(
        e.filter(F.col("vec_id").isin(qids)), e, RRF_LIST_K
    ).select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse(lex, vec, RRF_OUT_K)


@query(
    "q_emb_ivf_ndcg",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS cell,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, label AS cell,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    rel AS (SELECT query_id, neighbor_id, {TOP_K} + 1 - rank AS rel
            FROM exact_scored WHERE rank <= {TOP_K}),
    ivf_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q JOIN c USING (cell) WHERE query_id <> neighbor_id
    ),
    idcg AS (
        SELECT SUM(({TOP_K} + 1 - r) / ln(r + 1)) AS idcg
        FROM range(1, {TOP_K} + 1) t(r)
    ),
    dcg AS (
        SELECT i.query_id,
               SUM(COALESCE(rel.rel, 0) / ln(i.rank + 1)) AS dcg
        FROM (SELECT * FROM ivf_scored WHERE rank <= {TOP_K}) i
          LEFT JOIN rel
            ON rel.query_id = i.query_id
           AND rel.neighbor_id = i.neighbor_id
        GROUP BY i.query_id
    )
    SELECT q2.query_id,
           ROUND(COALESCE(d.dcg, 0), 6) AS dcg,
           ROUND(COALESCE(d.dcg, 0) / g.idcg, 6) AS ndcg
    FROM (SELECT DISTINCT query_id FROM q) q2
      LEFT JOIN dcg d USING (query_id)
      CROSS JOIN idcg g
    ORDER BY query_id
    """,
)
def q_emb_ivf_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the IVF ANN run against brute-force graded relevance
    (grade = 6 − exact rank for the true top-5, 0 otherwise; ln
    discount) — the rank-SENSITIVE companion to the ivf_label_cells
    row of q_emb_ann_recall_report: recall says how many true
    neighbors the probe found, nDCG says whether it put them in the
    right ORDER, which is what a retrieval serving stack actually pays
    for. Queries whose probed cell yields
    no true neighbor score 0 rather than dropping out.

    Determinism: both rankings tie-break on (rounded cosine, id); DCG
    divides integer grades by ln of integer positions — ≤ 5 float
    terms per query, rounded at the edge.

    Scale: composes the existing exact-GEMM and cell-join pipelines;
    the grading join is top-k-sized (queries × k). The ideal DCG is a
    5-row fold, not a per-corpus pass.
    """
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    exact = cosine_topk(queries, e, TOP_K)
    rel = exact.select(
        "query_id",
        "neighbor_id",
        (F.lit(TOP_K + 1) - F.col("rank")).alias("rel"),
    )
    approx = ivf_topk(queries, e, TOP_K).select(
        "query_id", "neighbor_id", "rank"
    )
    dcg = (
        approx.join(rel, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(
                F.coalesce(F.col("rel"), F.lit(0))
                / F.log(F.col("rank") + 1)
            ).alias("dcg")
        )
    )
    idcg_expr = F.expr(
        f"aggregate(sequence(1, {TOP_K}), CAST(0.0 AS DOUBLE), "
        f"(acc, r) -> acc + CAST({TOP_K} + 1 - r AS DOUBLE) / ln(r + 1))"
    )
    qids = queries.select(F.col("vec_id").alias("query_id")).distinct()
    return (
        qids.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce("dcg", F.lit(0.0)), 6).alias("dcg"),
            F.round(
                F.coalesce("dcg", F.lit(0.0)) / idcg_expr, 6
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


MMR_CANDIDATES = 20
MMR_ROUNDS = 5


def _mmr_sql() -> str:
    """Iterative-CTE oracle for greedy MMR (kmeans/BPE style: every
    selection round is replayed and hash-checked, not just the end
    state)."""
    parts = [
        f"""
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES})""",
        """
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings)""",
        f"""
    mmr_cand AS (
        SELECT query_id, neighbor_id,
               CAST(ROUND(cos * 1000000) AS BIGINT) AS simq_u FROM (
            SELECT q.query_id, c.neighbor_id,
                   ROUND({_COSINE_SQL}, 6) AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND({_COSINE_SQL}, 6) DESC, c.neighbor_id
                   ) AS rnk
            FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id)
        WHERE rnk <= {MMR_CANDIDATES}
    )""",
        f"""
    mmr_pair AS (
        SELECT query_id, cand, other,
               CAST(ROUND(ROUND({_COSINE_SQL}, 6) * 1000000) AS BIGINT)
                   AS sim_u
        FROM (
            SELECT a.query_id, a.neighbor_id AS cand,
                   b.neighbor_id AS other,
                   ca.cv AS qv, cb.cv AS cv
            FROM mmr_cand a
              JOIN mmr_cand b ON a.query_id = b.query_id
                             AND a.neighbor_id <> b.neighbor_id
              JOIN c ca ON ca.neighbor_id = a.neighbor_id
              JOIN c cb ON cb.neighbor_id = b.neighbor_id
        )
    )""",
        """
    sel1 AS (
        SELECT query_id, neighbor_id, 2 * simq_u AS score_hu FROM (
            SELECT query_id, neighbor_id, simq_u,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY simq_u DESC, neighbor_id)
                       AS rn
            FROM mmr_cand) WHERE rn = 1
    )""",
        """
    selected1 AS (SELECT query_id, neighbor_id FROM sel1)""",
    ]
    for r in range(2, MMR_ROUNDS + 1):
        parts.append(f"""
    scored{r} AS (
        SELECT cn.query_id, cn.neighbor_id,
               cn.simq_u - m.mx_u AS score_hu
        FROM mmr_cand cn
          JOIN (SELECT p.query_id, p.cand AS neighbor_id,
                       MAX(p.sim_u) AS mx_u
                FROM mmr_pair p
                  JOIN selected{r - 1} s
                    ON s.query_id = p.query_id
                   AND s.neighbor_id = p.other
                GROUP BY p.query_id, p.cand) m
            ON m.query_id = cn.query_id
           AND m.neighbor_id = cn.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM selected{r - 1} s2
                          WHERE s2.query_id = cn.query_id
                            AND s2.neighbor_id = cn.neighbor_id)
    )""")
        parts.append(f"""
    sel{r} AS (
        SELECT query_id, neighbor_id, score_hu FROM (
            SELECT query_id, neighbor_id, score_hu,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score_hu DESC, neighbor_id)
                       AS rn
            FROM scored{r}) WHERE rn = 1
    )""")
        parts.append(f"""
    selected{r} AS (
        SELECT query_id, neighbor_id FROM selected{r - 1}
        UNION ALL SELECT query_id, neighbor_id FROM sel{r}
    )""")
    final = " UNION ALL ".join(
        f"SELECT query_id, {r} AS round, neighbor_id, "
        f"CAST(score_hu AS BIGINT) AS mmr_score_hu FROM sel{r}"
        for r in range(1, MMR_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",".join(parts)
        + f" SELECT * FROM ({final}) ORDER BY query_id, round"
    )


@query("q_emb_mmr", _mmr_sql())
def q_emb_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversified retrieval by Maximal Marginal Relevance (Carbonell &
    Goldstein 1998): per query, greedily pick 5 of the exact top-20
    candidates maximizing 0.5·sim(query, c) − 0.5·max sim(c, already
    picked) — the dedup-at-serving-time operator that keeps a RAG
    context window or a labeling batch from filling with five copies
    of the same document. Every selection round is oracle-replayed
    (kmeans-protocol style), not just the final set.

    Determinism: similarities are converted to exact integer
    micro-units immediately after the 6-dp rounding, so every score
    (reported in HALF-micro units: score_hu = simq_u − max_sim_u, and
    2·simq_u for the relevance-only first pick) is pure BIGINT
    arithmetic — a float formulation of 0.5·(a−b) over 6-dp decimals
    lands exactly on 7-dp rounding boundaries and flips between
    engines' rounding modes, which is the bug class this avoids.

    Scale: candidate generation is the existing corpus-streaming GEMM;
    everything after runs on queries × 20 rows (pairwise sims: × 20²)
    — constant per query, independent of corpus size. The greedy loop
    is 5 driver-coordinated rounds over model-sized frames, the
    legitimate O(k) iteration every MMR implementation has.
    """
    from ..operators.similarity import _as_double, cosine_expr

    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    cand = cache(
        cosine_topk(queries, e, MMR_CANDIDATES).select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine") * 1_000_000)
            .cast("bigint")
            .alias("simq_u"),
        ),
        MODEL_CACHE,
    )
    vecs = e.select(
        F.col("vec_id").alias("__vid"),
        _as_double(F.col("embedding")).alias("__v"),
    )
    ca = vecs.select(
        F.col("__vid").alias("cand"), F.col("__v").alias("qv")
    )
    cb = vecs.select(
        F.col("__vid").alias("other"), F.col("__v").alias("cv")
    )
    pair = cache(
        cand.select("query_id", F.col("neighbor_id").alias("cand"))
        .join(
            cand.select(
                F.col("query_id").alias("__q2"),
                F.col("neighbor_id").alias("other"),
            ),
            (F.col("query_id") == F.col("__q2"))
            & (F.col("cand") != F.col("other")),
        )
        .join(ca, "cand")
        .join(cb, "other")
        .select(
            "query_id",
            "cand",
            "other",
            F.round(
                F.round(cosine_expr(F.col("qv"), F.col("cv")), 6)
                * 1_000_000
            )
            .cast("bigint")
            .alias("sim_u"),
        ),
        MODEL_CACHE,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_hu"), "neighbor_id"
    )
    sel = (
        cand.withColumn("score_hu", 2 * F.col("simq_u"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "query_id", F.lit(1).alias("round"), "neighbor_id", "score_hu"
        )
        .localCheckpoint(eager=True)
    )
    picked = sel.select("query_id", "neighbor_id")
    for r in range(2, MMR_ROUNDS + 1):
        mx = (
            pair.join(
                picked.select(
                    F.col("query_id").alias("__qp"),
                    F.col("neighbor_id").alias("__op"),
                ),
                (F.col("query_id") == F.col("__qp"))
                & (F.col("other") == F.col("__op")),
            )
            .groupBy("query_id", "cand")
            .agg(F.max("sim_u").alias("mx_u"))
            .select(
                F.col("query_id").alias("__qm"),
                F.col("cand").alias("neighbor_id"),
                "mx_u",
            )
        )
        scored = (
            cand.join(
                mx,
                (cand["query_id"] == F.col("__qm"))
                & (cand["neighbor_id"] == mx["neighbor_id"]),
            )
            .select(
                cand["query_id"],
                cand["neighbor_id"],
                (F.col("simq_u") - F.col("mx_u")).alias("score_hu"),
            )
            .join(
                picked.select(
                    F.col("query_id").alias("__qs"),
                    F.col("neighbor_id").alias("__ns"),
                ),
                (F.col("query_id") == F.col("__qs"))
                & (F.col("neighbor_id") == F.col("__ns")),
                "left_anti",
            )
        )
        pick_r = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                F.lit(r).alias("round"),
                "neighbor_id",
                "score_hu",
            )
            .localCheckpoint(eager=True)
        )
        sel = sel.unionByName(pick_r)
        picked = sel.select("query_id", "neighbor_id")
    return sel.select(
        "query_id",
        "round",
        "neighbor_id",
        F.col("score_hu").cast("bigint").alias("mmr_score_hu"),
    ).orderBy("query_id", "round")


KNN_CLS_K = 5


@query(
    "q_emb_knn_classifier",
    f"""
    WITH q AS (SELECT vec_id AS query_id, label AS true_label,
                      CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, label AS nbr_label,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    nn AS (
        SELECT query_id, true_label, nbr_label FROM (
            SELECT q.query_id, q.true_label, c.nbr_label,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.query_id
                       ORDER BY ROUND({_COSINE_SQL}, 6) DESC, c.neighbor_id
                   ) AS rank
            FROM q CROSS JOIN c WHERE q.query_id <> c.neighbor_id)
        WHERE rank <= {KNN_CLS_K}
    ),
    votes AS (
        SELECT query_id, true_label, nbr_label AS pred_label,
               COUNT(*) AS v
        FROM nn GROUP BY 1, 2, 3
    ),
    pred AS (
        SELECT query_id, true_label, pred_label FROM (
            SELECT query_id, true_label, pred_label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY v DESC, pred_label) AS rn
            FROM votes) WHERE rn = 1
    )
    SELECT true_label, pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_queries
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_emb_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval (k=5, majority vote, ties → smallest
    label) of the embedding labels against exact-cosine neighbors,
    reported as a confusion matrix — the zero-training classifier
    baseline (and the standard embedding-quality probe: if 5-NN can't
    recover the label, the space doesn't separate the classes). Third
    member of the classifier-eval family next to nearest-centroid
    (q_emb_centroid_confusion) and Naive Bayes (q_text_naive_bayes).

    Determinism: neighbor sets are the hash-proven rounded-cosine
    rankings; votes are integer counts, tie-break by label.

    Scale: one corpus-streaming GEMM per query batch (the cosine_topk
    kernel); voting and the argmax run over queries × k rows.
    """
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    nn = cosine_topk(queries, e, KNN_CLS_K).select("query_id", "neighbor_id")
    labels = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("pred_label"),
    )
    truth = e.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    votes = (
        nn.join(F.broadcast(labels), "neighbor_id")
        .join(F.broadcast(truth), "query_id")
        .groupBy("query_id", "true_label", "pred_label")
        .agg(F.count(F.lit(1)).alias("v"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("v"), "pred_label")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "true_label", "pred_label")
    )
    return (
        pred.groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
        .orderBy("true_label", "pred_label")
    )


HARD_NEG_K = 3


@query(
    "q_emb_hard_negatives",
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    scored AS (
        SELECT query_id, neighbor_id, ROUND({_COSINE_SQL}, 6) AS cosine
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    pos AS (
        SELECT query_id, neighbor_id, cosine, 'positive' AS role
        FROM scored WHERE cosine >= {NEAR_DUP_COSINE}
    ),
    neg AS (
        SELECT query_id, neighbor_id, cosine, 'hard_negative' AS role
        FROM (
            SELECT query_id, neighbor_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id)
                       AS rn
            FROM scored WHERE cosine < {NEAR_DUP_COSINE})
        WHERE rn <= {HARD_NEG_K}
    )
    SELECT query_id, neighbor_id, cosine, role
    FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
    WHERE query_id IN (SELECT query_id FROM pos)
    ORDER BY query_id, role, neighbor_id
    """,
)
def q_emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for every query
    vector that HAS a positive (cosine ≥ 0.35 — the near-dup
    threshold), emit its positives plus the 3 highest-cosine vectors
    just BELOW the threshold — the near-misses that carry the training
    signal (random negatives are trivially separable; hard ones define
    the decision boundary). The deterministic complement to
    q_emb_triplets' md5-drawn random negatives.

    Scale: the corpus streams once against the broadcast 50-query set
    (JVM cosine fold — the expression twin of the GEMM kernel; swap in
    cosine_topk's Arrow path when the query set grows); the role split
    and per-query top-k run on the scored set; anchors without
    positives drop via a semi-join on the positive set.

    Reference basis: SURVEY.md §8 (contrastive pair mining).
    """
    from ..operators.similarity import _as_double

    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.expr("query_id <> neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
    )
    pos = scored.filter(F.col("cosine") >= NEAR_DUP_COSINE).select(
        "query_id", "neighbor_id", "cosine", F.lit("positive").alias("role")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    neg = (
        scored.filter(F.col("cosine") < NEAR_DUP_COSINE)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= HARD_NEG_K)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.lit("hard_negative").alias("role"),
        )
    )
    anchors = pos.select("query_id").distinct()
    return (
        pos.unionByName(neg)
        .join(anchors, "query_id", "left_semi")
        .orderBy("query_id", "role", "neighbor_id")
    )


OOD_BOTTOM_K = 10


@query(
    "q_emb_ood_screen",
    f"""
    WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < {N_QUERIES}),
         c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings),
    nn AS (
        SELECT query_id,
               CAST(ROUND(ROUND({_COSINE_SQL}, 6) * 1000000) AS BIGINT)
                   AS cos_u,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    ),
    score AS (
        SELECT query_id, CAST(SUM(cos_u) AS BIGINT) AS knn_sim_u
        FROM nn WHERE rank <= {TOP_K}
        GROUP BY query_id
    )
    SELECT query_id, knn_sim_u,
           CAST(rk AS INT) AS isolation_rank
    FROM (SELECT query_id, knn_sim_u,
                 ROW_NUMBER() OVER (ORDER BY knn_sim_u, query_id) AS rk
          FROM score)
    WHERE rk <= {OOD_BOTTOM_K}
    ORDER BY isolation_rank
    """,
)
def q_emb_ood_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-distribution screen for an incoming vector batch: each
    query's summed similarity to its 5 nearest corpus neighbors
    (integer micro-units), bottom-10 flagged — vectors that are far
    from EVERYTHING are corrupt inputs, wrong-modality embeds, or
    genuinely novel content, and every curation pipeline wants them on
    a review list before they enter the index (the embedding-space
    sibling of the text quality gate). k-NN similarity is the standard
    non-parametric OOD score: no trained density model, no
    distribution assumption.

    Determinism: neighbor sets are the hash-proven rounded-cosine
    rankings; scores sum exact integers; the bottom-k cut orders by
    (score, id).

    Scale: one corpus-streaming GEMM for the batch; scoring and the
    bottom-k run on batch × k rows.
    """
    e = table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < N_QUERIES)
    nn = cosine_topk(queries, e, TOP_K).select(
        "query_id",
        F.round(F.col("cosine") * 1_000_000).cast("bigint").alias("cos_u"),
    )
    score = nn.groupBy("query_id").agg(
        F.sum("cos_u").cast("bigint").alias("knn_sim_u")
    )
    w = Window.orderBy("knn_sim_u", "query_id")
    return (
        score.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= OOD_BOTTOM_K)
        .select(
            "query_id",
            "knn_sim_u",
            F.col("rk").cast("int").alias("isolation_rank"),
        )
        .orderBy("isolation_rank")
    )
