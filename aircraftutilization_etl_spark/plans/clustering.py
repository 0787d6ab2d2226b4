"""Embedding clustering queries (operators/clustering.py).

The k-means oracle replays the ENTIRE iteration history in SQL — seeds,
per-iteration exact-integer assignment, floor-of-ratio centroid updates
— as a chain of generated CTEs, so a hash match certifies every round,
not just the final labels. This is only possible because the operator is
formulated on the int8 grid (see operators/clustering.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.clustering import ivfpq_adc_topk, kmeans_int8, pq_adc_topk
from ..operators.distribute import CORPUS_CACHE, cache
from ..operators.graph import connected_components_star
from ..operators.similarity import cosine_pairs, cosine_topk, ivf_topk, srp_topk
from .catalog import query, table
from .similarity import (
    _COSINE_SQL,
    IVF_RECALL_SQL,
    MRL_DIMS,
    MRL_RECALL_SQL,
    N_QUERIES,
    NEAR_DUP_COSINE,
    SRP_RECALL_SQL,
    TOP_K,
)

K_CLUSTERS = 8
KMEANS_ITERS = 2

# int8 codes, one row per (vector, dimension) — same mapping the proven
# q_emb_quantize_int8 oracle uses, as BIGINT for exact distance sums
_CODES_CTE = """
    codes AS (
        SELECT vec_id, CAST(i - 1 AS INT) AS pos,
               CAST(CASE WHEN scale = 0 THEN 0
                         ELSE FLOOR(e[CAST(i AS INT)] * 127 / scale) END
                    AS BIGINT) AS q
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                     list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                             x -> abs(x))) AS scale
              FROM embeddings),
             LATERAL unnest(range(1, len(e) + 1)) AS u(i)
    )"""


def _kmeans_ctes() -> tuple[str, str]:
    """(CTE chain, final-centroid name) replaying Lloyd's iterations."""
    parts = [
        _CODES_CTE,
        f"""
    seeds AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster
        FROM (SELECT DISTINCT vec_id FROM codes ORDER BY vec_id LIMIT {K_CLUSTERS})
    )""",
        """
    cent0 AS (
        SELECT s.cluster, c.pos, c.q AS val
        FROM seeds s JOIN codes c USING (vec_id)
    )""",
    ]
    for i in range(1, KMEANS_ITERS + 1):
        parts.append(f"""
    dist{i} AS (
        SELECT c.vec_id, t.cluster,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM codes c JOIN cent{i - 1} t USING (pos)
        GROUP BY c.vec_id, t.cluster
    )""")
        parts.append(f"""
    assign{i} AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM dist{i}
        ) WHERE rn = 1
    )""")
        parts.append(f"""
    cent{i} AS (
        SELECT p.cluster, p.pos, COALESCE(m.val, p.val) AS val
        FROM cent{i - 1} p LEFT JOIN (
            SELECT a.cluster, c.pos,
                   CAST(FLOOR(CAST(SUM(c.q) AS DOUBLE) / COUNT(*))
                        AS BIGINT) AS val
            FROM assign{i} a JOIN codes c USING (vec_id)
            GROUP BY a.cluster, c.pos
        ) m ON m.cluster = p.cluster AND m.pos = p.pos
    )""")
    return ",".join(parts), f"cent{KMEANS_ITERS}"


_KMEANS_CTES, _FINAL_CENT = _kmeans_ctes()


@query(
    "q_emb_kmeans",
    f"""
    WITH {_KMEANS_CTES},
    final_dist AS (
        SELECT c.vec_id, t.cluster,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM codes c JOIN {_FINAL_CENT} t USING (pos)
        GROUP BY c.vec_id, t.cluster
    )
    SELECT vec_id, CAST(cluster AS INT) AS cluster, dist FROM (
        SELECT vec_id, cluster, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
        FROM final_dist
    ) WHERE rn = 1
    ORDER BY vec_id
    """,
)
def q_emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized Lloyd's k-means (k=8, 2 iterations) over the corpus —
    the trained coarse quantizer an IVF index probes; output is every
    vector's final cell and exact squared distance.

    Scale: per iteration, assignment is a map-only codegen'd fold
    against k×d broadcast literals and the update is one shuffle with
    k·d result groups (map-side partial aggregation does the heavy
    lifting); the driver holds k×d integers per round, never the data.
    """
    e = table(spark, sf_dir, "embeddings")
    return kmeans_int8(e, k=K_CLUSTERS, iterations=KMEANS_ITERS)


_EMB_PAIRS_CTE = f"""
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    emb_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))) >= {NEAR_DUP_COSINE}
    )"""


@query(
    "q_emb_dedup_clusters",
    f"""
    WITH RECURSIVE {_EMB_PAIRS_CTE},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM emb_pairs
        UNION
        SELECT id_b, id_a FROM emb_pairs
    ),
    closure(node, reach) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT c.node, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    )
    SELECT node AS vec_id, LEAST(node, MIN(reach)) AS cluster_id
    FROM closure
    GROUP BY node
    ORDER BY vec_id
    """,
)
def q_emb_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup GROUPS: connected components over the
    embedding-cosine near-dup pairs (cosine ≥ 0.35), each cluster
    labeled by its smallest member — the canonical vector a semantic
    dedup pipeline keeps. Completes the dedup family: exact, n-gram,
    MinHash-LSH and SimHash cluster over text; this one clusters over
    geometry.

    Scale: pair generation is the blocked executor-side GEMM self-join
    (cosine_pairs); components are large-star/small-star contraction
    (connected_components_star) — O(log^2 n) rounds whatever the
    cluster diameter, the driver sees two scalars per round. Oracle:
    recursive-CTE transitive closure over the same pairs.
    """
    e = table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(e, NEAR_DUP_COSINE).select("id_a", "id_b")
    return connected_components_star(pairs).select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


KMEANS_RECALL_SQL = f"""
    WITH {_KMEANS_CTES},
    final_dist AS (
        SELECT c.vec_id, t.cluster,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM codes c JOIN {_FINAL_CENT} t USING (pos)
        GROUP BY c.vec_id, t.cluster
    ),
    cells AS (
        SELECT vec_id, cluster AS cell FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM final_dist
        ) WHERE rn = 1
    ),
    q AS (SELECT e.vec_id AS query_id, k.cell,
                 CAST(e.embedding AS DOUBLE[]) AS qv
          FROM embeddings e JOIN cells k USING (vec_id)
          WHERE e.vec_id < {N_QUERIES}),
    c AS (SELECT e.vec_id AS neighbor_id, k.cell,
                 CAST(e.embedding AS DOUBLE[]) AS cv
          FROM embeddings e JOIN cells k USING (vec_id)),
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


N_NEG_DRAWS = 3  # 3 distinct candidate indices can't all hit {anchor, positive}


@query(
    "q_emb_triplets",
    f"""
    WITH {_EMB_PAIRS_CTE},
    ranked AS (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS idx
        FROM embeddings
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    cand AS (
        SELECT p.id_a AS anchor_id, p.id_b AS positive_id, u.j,
               (CAST(concat('0x',
                    substr(md5(CAST(p.id_a AS VARCHAR)), 1, 12)) AS BIGINT)
                % nn.n + u.j) % nn.n AS idx
        FROM emb_pairs p, nn, LATERAL unnest(range(0, {N_NEG_DRAWS})) AS u(j)
    )
    SELECT anchor_id, positive_id, negative_id FROM (
        SELECT c.anchor_id, c.positive_id, r.vec_id AS negative_id,
               ROW_NUMBER() OVER (PARTITION BY c.anchor_id, c.positive_id
                                  ORDER BY c.j) AS rn
        FROM cand c JOIN ranked r USING (idx)
        WHERE r.vec_id <> c.anchor_id AND r.vec_id <> c.positive_id
    ) WHERE rn = 1
    ORDER BY anchor_id, positive_id
    """,
)
def q_emb_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (anchor, positive, negative):
    positives are the embedding near-dup pairs; negatives are drawn
    deterministically by hashing the anchor into an md5-ranked corpus
    index — replayable random sampling with no RNG state, stable under
    repartitioning and appends-with-rerank. Three consecutive candidate
    indices are drawn (distinct by construction, so at least one always
    avoids the anchor/positive) and the first valid one wins.

    Scale: pair mining is the blocked GEMM; the rank index is one
    range-partitioned sort; negative resolution is an equi-join on the
    index — all shuffle-bounded by the pair count, not the corpus.
    """
    from pyspark.sql.window import Window

    from ..operators.sampling import global_running_sum

    e = table(spark, sf_dir, "embeddings")
    pairs = cosine_pairs(e, NEAR_DUP_COSINE).select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id")
    )
    # dense 0..N-1 corpus index in md5 order — two-phase running count
    # (range-partitioned local row numbers + prefix offsets), NOT a
    # global row_number window, which would funnel the corpus through
    # one task
    ranked = (
        global_running_sum(
            e.select(
                "vec_id",
                F.md5(F.col("vec_id").cast("string")).alias("__mk"),
            ).withColumn("__one", F.lit(1)),
            [F.asc("__mk"), F.asc("vec_id")],
            "__one",
            out_col="__rank1",
        )
        .select("vec_id", (F.col("__rank1") - 1).alias("idx"))
    )
    n = ranked.count()
    r0 = F.pmod(
        F.conv(
            F.substring(F.md5(F.col("anchor_id").cast("string")), 1, 12),
            16,
            10,
        ).cast("long"),
        F.lit(n),
    )
    cand = (
        pairs.select(
            "*",
            F.explode(
                F.array(*[F.lit(j) for j in range(N_NEG_DRAWS)])
            ).alias("j"),
        )
        .withColumn("idx", F.pmod(r0 + F.col("j"), F.lit(n)))
    )
    w = Window.partitionBy("anchor_id", "positive_id").orderBy("j")
    return (
        cand.join(ranked, "idx")
        .filter(
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("vec_id") != F.col("positive_id"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor_id",
            "positive_id",
            F.col("vec_id").alias("negative_id"),
        )
    )


# --- product quantization (operators/clustering.py PQ section) -------------

M_SUB = 16
K_PQ = 16
PQ_ITERS = 2
PQ_TRAIN_LIMIT = 400  # Faiss-style bounded training sample (id-prefix)


def _pq_ctes() -> tuple[str, str]:
    """(CTE chain, encode-CTE name) replaying PQ training per subspace
    and the final per-(vector, subspace) code assignment."""
    parts = [
        _CODES_CTE,
        f"""
    sdim AS (SELECT (MAX(pos) + 1) // {M_SUB} AS sd FROM codes)""",
        f"""
    scodes AS (
        SELECT vec_id, CAST(pos // sd AS INT) AS sub,
               CAST(pos % sd AS INT) AS spos, q
        FROM codes CROSS JOIN sdim
    )""",
        f"""
    pqseeds AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS code
        FROM (SELECT DISTINCT vec_id FROM scodes ORDER BY vec_id LIMIT {K_PQ})
    )""",
        """
    pqcent0 AS (
        SELECT c.sub, s.code, c.spos, c.q AS val
        FROM pqseeds s JOIN scodes c USING (vec_id)
    )""",
    ]
    for i in range(1, PQ_ITERS + 2):
        # rounds 1..PQ_ITERS train; round PQ_ITERS+1 is the encode
        # assignment against the final codebooks (no update follows it)
        parts.append(f"""
    pqdist{i} AS (
        SELECT c.vec_id, c.sub, t.code,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM scodes c JOIN pqcent{i - 1} t
          ON c.sub = t.sub AND c.spos = t.spos
        {f"WHERE c.vec_id < {PQ_TRAIN_LIMIT}" if i <= PQ_ITERS else ""}
        GROUP BY c.vec_id, c.sub, t.code
    )""")
        parts.append(f"""
    pqassign{i} AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY dist, code) AS rn
            FROM pqdist{i}
        ) WHERE rn = 1
    )""")
        if i <= PQ_ITERS:
            parts.append(f"""
    pqcent{i} AS (
        SELECT p.sub, p.code, p.spos, COALESCE(u.val, p.val) AS val
        FROM pqcent{i - 1} p LEFT JOIN (
            SELECT a.sub, a.code, c.spos,
                   CAST(FLOOR(CAST(SUM(c.q) AS DOUBLE) / COUNT(*))
                        AS BIGINT) AS val
            FROM pqassign{i} a JOIN scodes c
              ON a.vec_id = c.vec_id AND a.sub = c.sub
            GROUP BY a.sub, a.code, c.spos
        ) u ON u.sub = p.sub AND u.code = p.code AND u.spos = p.spos
    )""")
    return ",".join(parts), f"pqassign{PQ_ITERS + 1}"


_PQ_CTES, _PQ_ENC = _pq_ctes()

_PQ_ADC_CTES = f"""
    pqlut AS (
        SELECT c.vec_id AS query_id, c.sub, t.code,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM scodes c JOIN pqcent{PQ_ITERS} t
          ON c.sub = t.sub AND c.spos = t.spos
        WHERE c.vec_id < {N_QUERIES}
        GROUP BY c.vec_id, c.sub, t.code
    ),
    adc AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.dist) AS BIGINT) AS adc_dist
        FROM {_PQ_ENC} e JOIN pqlut l
          ON e.sub = l.sub AND e.code = l.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    ),
    adc_ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM adc
    )"""


def _pq_pipeline(spark: SparkSession, sf_dir: str):
    """Shared Spark-side PQ build → (embeddings, scodes, encoded, books)."""
    from ..operators.clustering import pq_encode, pq_train

    e = table(spark, sf_dir, "embeddings")
    books, scodes = pq_train(
        e, PQ_TRAIN_LIMIT, m=M_SUB, k=K_PQ, iterations=PQ_ITERS
    )
    if not books:
        # empty corpus: no codebooks trained — pq_encode cannot build a
        # zero-centroid literal, and every consumer short-circuits to a
        # typed empty result on `not books`
        encoded = spark.createDataFrame([], "vec_id long, codes array<int>")
        return e, scodes, encoded, books
    return e, scodes, pq_encode(scodes, books), books


@query(
    "q_emb_pq_topk",
    f"""
    WITH {_PQ_CTES},
    {_PQ_ADC_CTES}
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
    FROM adc_ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): train m=16 subspace
    codebooks (k=16, kmeans_int8 protocol per subspace), compress every
    vector to 16 codes, and answer the standard query set by Asymmetric
    Distance Computation — per query one m×k LUT of exact subspace
    distances, then m BIGINT lookups per corpus vector. The oracle
    replays training, encoding, every LUT entry and every ADC score.

    Scale: the index is 16 bytes/vector (1:16 at d=64); scoring streams
    the corpus map-side against the broadcast query LUTs — the IVF-PQ
    memory/bandwidth profile that makes billion-vector ANN feasible.

    Training: pq_train collects the PQ_TRAIN_LIMIT id-prefix sample
    with the K_PQ seed vectors in one collect and runs the Lloyd
    rounds driver-side; every run trains its own codebooks.
    """
    _, scodes, encoded, books = _pq_pipeline(spark, sf_dir)
    return pq_adc_topk(scodes, encoded, books, N_QUERIES, TOP_K)


PQ_RECALL_SQL = f"""
    WITH {_PQ_CTES},
    {_PQ_ADC_CTES},
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT e.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM (SELECT * FROM exact_scored WHERE rank <= {TOP_K}) e
      LEFT JOIN (SELECT * FROM adc_ranked WHERE rank <= {TOP_K}) a
        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


_QUANT_EXPL = """
    v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                       x -> abs(x))) AS scale
        FROM embeddings
    ),
    qq AS (
        SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
               CAST(CASE WHEN scale = 0 THEN 0
                         ELSE FLOOR(e[CAST(i AS INT)] * 127 / scale) END
                    AS BIGINT) AS q
        FROM v, LATERAL unnest(range(1, len(e) + 1)) AS u(i)
    )
"""


@query(
    "q_emb_centroid_confusion",
    f"""
    WITH {_QUANT_EXPL},
    cent AS (
        SELECT label, dim,
               CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM qq GROUP BY label, dim
    ),
    dist AS (
        SELECT qq.vec_id, qq.label AS true_label, cent.label AS cand,
               SUM((qq.q - cent.c) * (qq.q - cent.c)) AS d
        FROM qq JOIN cent ON qq.dim = cent.dim
        GROUP BY qq.vec_id, qq.label, cent.label
    ),
    pred AS (
        SELECT vec_id, true_label, cand AS pred_label,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cand) AS rn
        FROM dist
    )
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY true_label, pred_label
    ORDER BY true_label, pred_label
    """,
)
def q_emb_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid label confusion matrix in the int8-quantized
    space: per-label integer centroids (floor-of-mean per dim — exact),
    every vector classified to its argmin-distance centroid (ties to
    the smallest label), confusion counts per (true, predicted) pair —
    the label-coherence gauge that tells you whether embedding labels
    are separable before training anything.

    Scale: centroids are a (labels x dims)-sized aggregate collected as
    the model; classification is a map-only codegen fold against the
    literal centroids (no join, no fan-out); the confusion aggregate is
    |labels|^2 rows. The oracle replays quantization, centroids, every
    distance and every argmin.
    """
    from ..operators.clustering import _assign
    from ..operators.similarity import quantize_embeddings

    e = table(spark, sf_dir, "embeddings")
    q = quantize_embeddings(e).join(e.select("vec_id", "label"), "vec_id")
    cent_rows = (
        q.select("label", F.posexplode("qvec").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.floor(F.sum("x") / F.count(F.lit(1))).alias("c"))
        .collect()
    )
    by_label: dict[int, dict[int, int]] = {}
    for r in cent_rows:
        by_label.setdefault(r["label"], {})[r["dim"]] = int(r["c"])
    labels = sorted(by_label)
    if not labels:
        # empty corpus: no label centroids — the confusion matrix of
        # nothing is empty (typed), not a zero-centroid _assign crash
        return spark.createDataFrame(
            [], "true_label int, pred_label int, n bigint"
        )
    centroids = [
        [by_label[lbl][d] for d in sorted(by_label[lbl])] for lbl in labels
    ]
    label_arr = F.array(*[F.lit(int(lbl)) for lbl in labels])
    assigned = _assign(q.select("vec_id", "label", "qvec"), centroids)
    return (
        assigned.select(
            F.col("label").alias("true_label"),
            F.element_at(label_arr, F.col("cluster") + 1).alias("pred_label"),
        )
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("true_label", "pred_label")
    )


# --- IVF-PQ: coarse k-means cells pruning + PQ-ADC scoring ---------------

# the kmeans and PQ CTE chains share the leading `codes` CTE; strip it
# from the PQ chain before composing both into one WITH clause
assert _PQ_CTES.startswith(_CODES_CTE)
_PQ_TAIL = _PQ_CTES[len(_CODES_CTE) + 1 :]

_IVFPQ_CTES = f"""{_KMEANS_CTES},
    {_PQ_TAIL},
    coarse_dist AS (
        SELECT c.vec_id, t.cluster,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM codes c JOIN {_FINAL_CENT} t USING (pos)
        GROUP BY c.vec_id, t.cluster
    ),
    coarse_cells AS (
        SELECT vec_id, cluster AS cell FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM coarse_dist
        ) WHERE rn = 1
    ),
    pqlut AS (
        SELECT c.vec_id AS query_id, c.sub, t.code,
               CAST(SUM((c.q - t.val) * (c.q - t.val)) AS BIGINT) AS dist
        FROM scodes c JOIN pqcent{PQ_ITERS} t
          ON c.sub = t.sub AND c.spos = t.spos
        WHERE c.vec_id < {N_QUERIES}
        GROUP BY c.vec_id, c.sub, t.code
    ),
    ivfadc AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.dist) AS BIGINT) AS adc_dist
        FROM {_PQ_ENC} e
          JOIN coarse_cells ce ON ce.vec_id = e.vec_id
          JOIN pqlut l ON e.sub = l.sub AND e.code = l.code
          JOIN coarse_cells cu
            ON cu.vec_id = l.query_id AND cu.cell = ce.cell
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    ),
    ivfadc_ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM ivfadc
    )"""


@query(
    "q_emb_ivfpq_topk",
    f"""
    WITH {_IVFPQ_CTES}
    SELECT query_id, neighbor_id, adc_dist, CAST(rank AS INT) AS rank
    FROM ivfadc_ranked WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (the billion-vector architecture): trained k-means
    coarse cells prune the candidate set to the query's own cell
    (probe=1), then PQ-ADC scores only the survivors — the compute cut
    of IVF multiplied by the 16-byte-code memory cut of PQ. The oracle
    replays BOTH quantizer trainings, the cell assignments, every LUT
    entry, and every surviving ADC score.

    Scale: cells co-partition the code table; the LUT frame (now
    carrying the query's cell) broadcasts into an equi-join ON the
    cell, so pruning is the join equality itself, not a post-filter.

    PQ codebooks are trained per run by _pq_pipeline (see
    q_emb_pq_topk).
    """
    e, scodes, encoded, books = _pq_pipeline(spark, sf_dir)
    cells = kmeans_int8(e, k=K_CLUSTERS, iterations=KMEANS_ITERS).select(
        "vec_id", "cluster"
    )
    return ivfpq_adc_topk(scodes, encoded, books, cells, N_QUERIES, TOP_K)


IVFPQ_RECALL_SQL = f"""
    WITH {_IVFPQ_CTES},
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM (SELECT * FROM exact_scored WHERE rank <= {TOP_K}) e
      LEFT JOIN (SELECT * FROM ivfadc_ranked WHERE rank <= {TOP_K}) i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


N_PROBE = 2


IVFPQ2_RECALL_SQL = f"""
    WITH {_IVFPQ_CTES},
    probe_cells AS (
        SELECT vec_id AS query_id, cluster AS cell FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM coarse_dist WHERE vec_id < {N_QUERIES}
        ) WHERE rn <= {N_PROBE}
    ),
    ivfadc2 AS (
        SELECT l.query_id, e.vec_id AS neighbor_id,
               CAST(SUM(l.dist) AS BIGINT) AS adc_dist
        FROM {_PQ_ENC} e
          JOIN coarse_cells ce ON ce.vec_id = e.vec_id
          JOIN probe_cells p ON p.cell = ce.cell
          JOIN pqlut l ON l.query_id = p.query_id
            AND e.sub = l.sub AND e.code = l.code
        WHERE e.vec_id <> l.query_id
        GROUP BY l.query_id, e.vec_id
    ),
    ivfadc2_ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rank
        FROM ivfadc2
    ),
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM (SELECT * FROM exact_scored WHERE rank <= {TOP_K}) e
      LEFT JOIN (SELECT * FROM ivfadc2_ranked WHERE rank <= {TOP_K}) i
        ON i.query_id = e.query_id AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


def _ivfpq_probe2_topk(pq: tuple, cells: DataFrame, cents) -> DataFrame:
    """IVF-PQ at probe=2 → (query_id, neighbor_id) top-k: each query
    additionally scores its second-nearest coarse cell — the dial every
    IVF deployment turns (probes trade compute back for recall).
    ``cells``/``cents`` are kmeans_int8's (assignment, centroids).

    Scale: the probe list is model-sized (n_queries x probes rows
    riding the broadcast LUT frame); corpus-side cost grows linearly
    with the probe count, never with the cell count. A corpus vector
    meets a query at most once (one home cell, distinct probe cells),
    so the cell join needs no dedup.
    """
    from ..operators.clustering import (
        _adc_luts,
        _adc_rank,
        _adc_score_expr,
        _sq_dist_expr,
    )
    from ..operators.similarity import quantize_embeddings

    e, scodes, encoded, books = pq
    if not cents:
        # empty corpus: no coarse cells to probe
        return e.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long"
        )
    qcodes = quantize_embeddings(
        e.filter(F.col("vec_id") < N_QUERIES)
    ).select("vec_id", "qvec")
    melted = qcodes.select(
        F.col("vec_id").alias("query_id"),
        F.posexplode(
            F.array(*[_sq_dist_expr(c) for c in cents])
        ).alias("cell", "dist"),
    )
    wp = Window.partitionBy("query_id").orderBy("dist", "cell")
    probes = (
        melted.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "cell")
    )
    luts = _adc_luts(scodes, books, N_QUERIES).join(
        probes, "query_id"
    )
    cn = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cluster").alias("cell"),
    )
    scored = (
        encoded.withColumnRenamed("vec_id", "neighbor_id")
        .join(cn, "neighbor_id")
        .join(F.broadcast(luts), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_score_expr(len(books)).alias("adc_dist"),
        )
    )
    return _adc_rank(scored, TOP_K).select("query_id", "neighbor_id")


RERANK_CANDIDATES = 20

# shared SQL leg: ADC top-RERANK_CANDIDATES re-scored by exact cosine
# (q_emb_pq_rerank and the report's pq_rerank oracle splice this after
# _PQ_CTES/_PQ_ADC_CTES so the two oracles can never drift apart)
_PQ_RERANK_CTES = f"""
    q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings),
    rerank_scored AS (
        SELECT a.query_id, a.neighbor_id,
               ROUND({_COSINE_SQL}, 6) AS cosine
        FROM (SELECT * FROM adc_ranked
              WHERE rank <= {RERANK_CANDIDATES}) a
          JOIN q ON q.query_id = a.query_id
          JOIN c ON c.neighbor_id = a.neighbor_id
    ),
    rerank_ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id)
                   AS rank
        FROM rerank_scored
    )"""


def _pq_rerank_topk(pq: tuple) -> DataFrame:
    """Spark leg of the two-stage retrieval over a _pq_pipeline build:
    PQ-ADC overfetch (RERANK_CANDIDATES) re-scored by exact cosine,
    ranked per query. The caller owns the pipeline's caches."""
    from ..operators.similarity import _as_double, cosine_expr

    e, scodes, encoded, books = pq
    cands = pq_adc_topk(
        scodes, encoded, books, N_QUERIES, RERANK_CANDIDATES
    ).select("query_id", "neighbor_id")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), "neighbor_id"
    )
    ranked = (
        cands.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias(
                "cosine"
            ),
        )
        .withColumn("rank", F.row_number().over(w))
    )
    return ranked


@query(
    "q_emb_pq_rerank",
    f"""
    WITH {_PQ_CTES},
    {_PQ_ADC_CTES},
    {_PQ_RERANK_CTES}
    SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
    FROM rerank_ranked
    WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
)
def q_emb_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval, the production ANN serving architecture:
    PQ-ADC generates RERANK_CANDIDATES (20) compressed-domain candidates
    per query, then EXACT cosine re-scores only those and keeps the
    top-5 — candidate generation pays 16 bytes/vector bandwidth, the
    rerank pays full-precision cost on a constant-size set. This is
    how Faiss/ScaNN deployments recover the precision the 1:16
    compression gives up (flat PQ@5 recall ≈ 0.34 here; the 4×
    overfetch + exact rerank lifts it to ≈ 0.61 — the pq_rerank row of
    q_emb_ann_recall_report — and every kept neighbor is ordered by
    TRUE similarity).

    Scale: the candidate set is queries × RERANK_CANDIDATES rows —
    the exact-rerank join touches that, never the corpus; full vectors
    are fetched by equi-join on the neighbor id (at 100 TB: a
    broadcast-hash probe into the vector store's id index).

    Reference basis: SURVEY.md §8 (ANN surface); two-stage ADC+rerank
    per Jégou et al. 2011 §V.

    PQ codebooks are trained per run by _pq_pipeline (see
    q_emb_pq_topk).
    """
    return (
        _pq_rerank_topk(_pq_pipeline(spark, sf_dir))
        .filter(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
        .orderBy("query_id", "rank")
    )


PQ_RERANK_RECALL_SQL = f"""
    WITH {_PQ_CTES},
    {_PQ_ADC_CTES},
    {_PQ_RERANK_CTES},
    exact_scored AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY ROUND({_COSINE_SQL}, 6) DESC, neighbor_id
               ) AS rank
        FROM q CROSS JOIN c WHERE query_id <> neighbor_id
    )
    SELECT e.query_id,
           CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(r.neighbor_id) * 1000000 // {TOP_K} AS BIGINT)
               AS recall_ppm
    FROM (SELECT * FROM exact_scored WHERE rank <= {TOP_K}) e
      LEFT JOIN (SELECT * FROM rerank_ranked WHERE rank <= {TOP_K}) r
        ON r.query_id = e.query_id AND r.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    ORDER BY e.query_id
    """


@query(
    "q_emb_drift",
    f"""
    WITH {_QUANT_EXPL},
    halves AS (
        SELECT label, dim, q,
               CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                         < '8' THEN 'a' ELSE 'b' END AS half
        FROM qq
    ),
    cents AS (
        SELECT label, half, dim,
               CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS c,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM halves GROUP BY label, half, dim
    ),
    paired AS (
        SELECT a.label, a.dim, a.c AS ca, b.c AS cb,
               a.n AS na, b.n AS nb
        FROM (SELECT * FROM cents WHERE half = 'a') a
          JOIN (SELECT * FROM cents WHERE half = 'b') b
            ON a.label = b.label AND a.dim = b.dim
    )
    SELECT label,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM((ca - cb) * (ca - cb)) AS BIGINT) AS centroid_sq_l2
    FROM paired
    GROUP BY label
    ORDER BY label
    """,
)
def q_emb_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift monitor: per label, the exact
    integer squared L2 distance between the int8-quantized centroids
    of two md5 halves of the corpus (half A plays yesterday's ingest,
    half B today's) — the semantic twin of the KS value-drift gate: a
    centroid that moves between batches means the upstream encoder or
    the content mix changed, and every ANN index built on yesterday's
    cells degrades. Near-zero distances here are the healthy baseline
    the alert threshold sits on.

    Determinism: the kmeans_int8 quantization protocol (exact
    floor-of-double codes, floor-of-mean centroids) keeps everything
    in BIGINTs — no float enters the distance.

    Scale: one (label, half, dim) aggregate with map-side combine
    (k·2·d result groups regardless of corpus size), a dim-keyed
    self-join on the label, a label-count result.
    """
    from ..operators.similarity import quantize_embeddings

    e = table(spark, sf_dir, "embeddings")
    qq = quantize_embeddings(e).join(
        e.select("vec_id", "label"), "vec_id"
    ).select(
        "vec_id",
        "label",
        F.posexplode("qvec").alias("dim", "q"),
    )
    halves = qq.select(
        "label",
        F.col("dim").cast("int").alias("dim"),
        "q",
        F.when(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "8",
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("half"),
    )
    cents = halves.groupBy("label", "half", "dim").agg(
        F.floor(F.sum("q") / F.count(F.lit(1))).cast("bigint").alias("c"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a = cents.filter("half = 'a'").select(
        "label", "dim", F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cents.filter("half = 'b'").select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    return (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            F.max("na").cast("bigint").alias("n_a"),
            F.max("nb").cast("bigint").alias("n_b"),
            F.sum((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb")))
            .cast("bigint")
            .alias("centroid_sq_l2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# ANN recall report: one catalog entry measures every approximate retrieval
# path against one brute-force ground truth. Each method's top-k comes
# straight from the operators its serving query uses; one join scores all
# eight. The oracle aggregates each method's per-query recall SQL (the
# *_RECALL_SQL strings here and in plans/similarity.py).
# ---------------------------------------------------------------------------

# method -> per-query recall@5 oracle, in the report's row order
_ANN_RECALL_SQL = {
    "ivf_label_cells": IVF_RECALL_SQL,
    "ivfpq_probe1": IVFPQ_RECALL_SQL,
    "ivfpq_probe2": IVFPQ2_RECALL_SQL,
    "kmeans_cells": KMEANS_RECALL_SQL,
    "matryoshka_trunc": MRL_RECALL_SQL,
    "pq_adc": PQ_RECALL_SQL,
    "pq_rerank": PQ_RERANK_RECALL_SQL,
    "srp_lsh": SRP_RECALL_SQL,
}


def _ann_recall_oracle() -> str:
    blocks = [
        f"""
    SELECT '{method}' AS method,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(n_hits) AS BIGINT) AS total_hits,
           CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT) AS mean_recall_ppm
    FROM ({sql})
    """
        for method, sql in _ANN_RECALL_SQL.items()
    ]
    return " UNION ALL ".join(blocks) + " ORDER BY method"


def _tagged(topk: dict[str, DataFrame]) -> DataFrame:
    """method -> top-k frame, as one (method, query_id, neighbor_id)
    union."""
    frames = [
        df.select(F.lit(method).alias("method"), "query_id", "neighbor_id")
        for method, df in topk.items()
    ]
    return reduce(DataFrame.unionByName, frames)


@query("q_emb_ann_recall_report", _ann_recall_oracle())
def q_emb_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN strategy decision table in one report: measured recall@5
    against brute-force cosine ground truth for every approximate
    retrieval path the engine ships, one row per method — the numbers
    an operator reads before committing a trillion-vector index to a
    strategy. Measured at sf0.01: untrained label cells ≈0.11, IVF-PQ
    probe=1 ≈0.28 / probe=2 ≈0.31, matryoshka half-width ≈0.24,
    SRP-LSH ≈0.30, flat PQ-ADC ≈0.34, k-means-trained cells ≈0.46,
    PQ overfetch + exact rerank ≈0.61.

    Each method's top-k is built from the SAME operators its serving
    query runs (ivf_topk over label cells or k-means cells, srp_topk,
    cosine_topk on the 32-dim prefix, PQ-ADC flat / IVF-PQ probe=1 and
    probe=2 / exact rerank over one _pq_pipeline and one kmeans_int8
    training), and each oracle leg replays that pipeline in SQL, so a
    hash match certifies all eight retrieval paths at once. Scoring is
    one plan: the ground truth, exploded over the method names, is
    left-joined to the union of the method-tagged top-k frames and
    counted per (method, query), then per method; the method list is
    the outer side, so an empty corpus still yields eight rows.

    Caches: scodes (persisted by pq_train) and the encoded codes
    (persisted here) feed the four PQ frames; the consumer's cache
    scope releases both. The ground truth is read once by the scoring
    plan, so it is not persisted.

    Scale: ground truth is the corpus-streaming GEMM (the audit cost,
    run on a sample at production scale); every approximate leg is
    bucketed or broadcast-bounded exactly as its serving twin; the
    scoring joins are (methods x queries x k)-sized.
    """
    pq = _pq_pipeline(spark, sf_dir)
    e, scodes, encoded, books = pq
    # corpus-scale (one codes row per vector): serialized + spill
    cache(encoded, CORPUS_CACHE)
    cells, cents = kmeans_int8(
        e, k=K_CLUSTERS, iterations=KMEANS_ITERS, return_model=True
    )
    cell_ids = cells.select("vec_id", "cluster")
    pq_topk = _tagged(
        {
            "ivfpq_probe1": ivfpq_adc_topk(
                scodes, encoded, books, cell_ids, N_QUERIES, TOP_K
            ),
            "ivfpq_probe2": _ivfpq_probe2_topk(pq, cells, cents),
            "pq_adc": pq_adc_topk(scodes, encoded, books, N_QUERIES, TOP_K),
            "pq_rerank": _pq_rerank_topk(pq).filter(F.col("rank") <= TOP_K),
        }
    )

    queries = e.filter(F.col("vec_id") < N_QUERIES)
    with_cells = e.select("vec_id", "embedding").join(
        cell_ids.withColumnRenamed("cluster", "label"), "vec_id"
    )
    trunc = lambda df: df.select(  # noqa: E731
        "vec_id", F.slice("embedding", 1, MRL_DIMS).alias("embedding")
    )
    approx = _tagged(
        {
            "ivf_label_cells": ivf_topk(queries, e, TOP_K),
            "kmeans_cells": ivf_topk(
                with_cells.filter(F.col("vec_id") < N_QUERIES),
                with_cells,
                TOP_K,
            ),
            "matryoshka_trunc": cosine_topk(trunc(queries), trunc(e), TOP_K),
            "srp_lsh": srp_topk(queries, e, TOP_K),
        }
    ).unionByName(pq_topk)
    truth = cosine_topk(queries, e, TOP_K).select(
        F.explode(F.array(*[F.lit(m) for m in _ANN_RECALL_SQL])).alias(
            "method"
        ),
        "query_id",
        "neighbor_id",
    )
    per_query = (
        truth.join(
            approx.withColumn("hit", F.col("neighbor_id")),
            ["method", "query_id", "neighbor_id"],
            "left",
        )
        .groupBy("method", "query_id")
        .agg(F.count("hit").alias("n_hits"))
    )
    per_method = per_query.groupBy("method").agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum("n_hits").cast("bigint").alias("total_hits"),
        F.expr(
            f"CAST(SUM(n_hits * 1000000 DIV {TOP_K}) DIV COUNT(*) AS BIGINT)"
        ).alias("mean_recall_ppm"),
    )
    methods = spark.createDataFrame(
        [(m,) for m in _ANN_RECALL_SQL], "method string"
    )
    return (
        methods.join(per_method, "method", "left")
        .select(
            "method",
            F.coalesce("n_queries", F.lit(0)).cast("bigint").alias("n_queries"),
            "total_hits",
            "mean_recall_ppm",
        )
        .orderBy("method")
    )
