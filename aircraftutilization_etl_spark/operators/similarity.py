"""Embedding similarity search over array<float> columns.

Two execution strategies, chosen by what dominates:

- **Column-expression kernels** (``cosine_expr`` etc.): JVM higher-order
  functions (zip_with/aggregate) — fine for per-row scoring and per-cell
  joins, zero Python.
- **Blocked GEMM via mapInPandas**: scoring a corpus against a query set
  is a matrix multiply; Spark's interpreted lambda evaluation is ~100×
  slower than BLAS here, so the hot path ships the (small, normalized)
  query matrix to executors and multiplies Arrow batches with numpy —
  the one place this engine drops to Python, per the "Pandas UDFs beat
  built-ins only when built-ins can't express it" rule (SURVEY.md §4.3).

Scale: the corpus is never collected. For top-k it streams through
mapInPandas partition-by-partition (scan → gemm-map → tiny top-k); only
the query matrix is broadcast. For all-pairs (``cosine_pairs``) the
corpus self-joins as packed blocks — every matrix lives executor-side,
driver memory is O(1). When the query set itself grows beyond broadcast
size, the LSH/IVF bucket join (ivf_topk) replaces the dense scan.

Determinism: cosines leave the UDF as raw float64 and are rounded to
6 dp by Spark's HALF_UP ``round`` (same as DuckDB's) before any ranking,
with id tie-breaks, so results are engine-stable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .distribute import ensure_scan_parallelism


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def norm_expr(vec):
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def dot_expr(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine_expr(a, b):
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


MAX_BROADCAST_QUERIES = 100_000  # ~50 MB at d=64 float64 — broadcast budget


def _collect_matrix(df: DataFrame):
    """Driver-side (vec_id, float64 embedding matrix) of a SMALL vector
    set.

    Arrow-path toPandas + np.stack — one columnar transfer, no per-row
    Python object churn. The smallness contract is ENFORCED, not
    assumed: beyond ``MAX_BROADCAST_QUERIES`` the broadcast-queries
    strategy is the wrong plan and the caller is pointed at the
    bucketed paths (ivf_topk / srp_topk / cosine_pairs), which keep
    everything executor-side.
    """
    n = df.count()
    if n > MAX_BROADCAST_QUERIES:
        raise ValueError(
            f"query set has {n} vectors — beyond the broadcast budget "
            f"({MAX_BROADCAST_QUERIES}). Use ivf_topk/srp_topk (bucketed "
            "ANN) or cosine_pairs (blocked exact all-pairs) instead."
        )
    pdf = df.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    if ids.size == 0:
        # empty query/reference set (a filter matched nothing — routine
        # at scale): np.stack rejects an empty list, and every caller's
        # contract is an empty RESULT, so hand back a (0, 0) matrix and
        # let the operator short-circuit on ids.size
        return ids, np.zeros((0, 0), dtype=np.float64)
    mat = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return ids, mat


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.sqrt((mat * mat).sum(axis=1, keepdims=True))
    norms[norms == 0] = 1.0
    return mat / norms


def _score_against(query_ids, query_mat_norm, partial_k=None):
    """mapInPandas kernel: batch GEMM against the broadcast query matrix.

    Hits leave the kernel via boolean-matrix ``argwhere`` — never the
    materialized (nb × nq) id cross product. With ``partial_k`` the
    kernel additionally pre-reduces each query's candidates to the rows
    that can still reach the global top-k: everything within 1e-6 (the
    output rounding quantum) of the batch's k-th best raw cosine — a
    map-side combine for the top-k reduction, provably lossless under
    the 6-dp-rounded final ordering.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if batch.empty:
                continue
            cids = batch["vec_id"].to_numpy(dtype=np.int64)
            cmat = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
            sims = _normalize(cmat) @ query_mat_norm.T  # (nb, nq)
            keep = query_ids[None, :] != cids[:, None]
            if partial_k is not None:
                masked = np.where(keep, sims, -np.inf)  # (nb, nq)
                nb = masked.shape[0]
                if nb > partial_k:
                    kth = np.partition(masked, nb - partial_k, axis=0)[
                        nb - partial_k
                    ]  # per-query k-th best in this batch
                    keep &= sims >= kth[None, :] - 1e-6
            rows, cols = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "query_id": query_ids[cols],
                    "neighbor_id": cids[rows],
                    "cosine_raw": sims[rows, cols],
                }
            )

    return fn


_SCORE_SCHEMA = "query_id long, neighbor_id long, cosine_raw double"


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.

    Output: (query_id, neighbor_id, cosine, rank), self-matches excluded,
    ties broken on neighbor id after 6-dp rounding.

    An empty query set yields a typed empty result (no neighbors of
    nothing) rather than an error — the corpus scan is skipped entirely.
    """
    qids, qmat = _collect_matrix(queries)
    if qids.size == 0:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    scored = ensure_scan_parallelism(
        corpus.select("vec_id", "embedding")
    ).mapInPandas(
        _score_against(qids, _normalize(qmat), partial_k=k),
        _SCORE_SCHEMA,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.select(
            "query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
        )
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    block_rows: int = 4096,
) -> DataFrame:
    """All unordered pairs with cosine ≥ threshold (semantic near-dup).

    Exact all-pairs with NOTHING on the driver: ids are hashed into B
    blocks, every row is fanned out (via an exploded block-id sequence)
    to each block-pair task (bi ≤ bj) it participates in, and one
    applyInPandas GEMM per pair stacks its rows by role and multiplies.
    The threshold filter runs inside the kernel so only hits leave the
    executors.

    Scale: shuffle volume is O(N·B·d) — the unavoidable replication of
    an exact all-pairs comparison — against O(N²·d) scoring FLOPs, so
    larger blocks amortize replication while each task stays a dense
    BLAS multiply over at most 2·block_rows vectors (~2 MB at d=64).
    B floors at the core count so small corpora still fan out; the
    B(B+1)/2 tasks are embarrassingly parallel. Driver memory is O(1).
    For sub-quadratic approximate scoring at extreme N, route through
    the IVF/LSH bucket join (``ivf_topk``) instead.
    """
    spark = corpus.sparkSession
    out_schema = "id_a long, id_b long, cosine double"
    base = corpus.select(
        F.col("vec_id").cast("long").alias("id"), F.col("embedding").alias("vec")
    )
    n = base.count()  # metadata-cheap over parquet; sizes the block grid
    if n == 0:
        return spark.createDataFrame([], out_schema)
    # B floors near the core count so small corpora fan out, but never
    # below ~256 rows/block — a 256x256 GEMM still dwarfs task overhead.
    n_blocks = max(
        -(-n // block_rows),
        min(spark.sparkContext.defaultParallelism, max(1, n // 256)),
    )
    blocked = base.withColumn(
        "block", F.pmod(F.xxhash64("id"), F.lit(n_blocks)).cast("int")
    )
    # fan-out: block b is the Left of pairs (b, b..B-1) and the Right of
    # pairs (0..b-1, b); the diagonal task gets each row exactly once.
    as_left = blocked.select(
        F.col("block").alias("bi"),
        F.explode(F.sequence("block", F.lit(n_blocks - 1))).alias("bj"),
        F.lit("L").alias("role"),
        "id",
        "vec",
    )
    as_right = blocked.filter(F.col("block") > 0).select(
        F.explode(F.sequence(F.lit(0), F.col("block") - 1)).alias("bi"),
        F.col("block").alias("bj"),
        F.lit("R").alias("role"),
        "id",
        "vec",
    )
    tasks = as_left.unionByName(as_right)

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        def side(mask):
            ids = pdf["id"].to_numpy(dtype=np.int64)[mask]
            mat = _normalize(
                np.stack(pdf["vec"].to_numpy()[mask]).astype(np.float64)
            )
            return ids, mat

        if pdf["bi"].iat[0] == pdf["bj"].iat[0]:
            # diagonal: self-pairs, upper triangle by id
            ids, m = side(slice(None))
            sims = m @ m.T
            keep = (ids[:, None] < ids[None, :]) & (sims >= threshold)
            a, b = np.nonzero(keep)
            return pd.DataFrame(
                {"id_a": ids[a], "id_b": ids[b], "cosine": sims[a, b]}
            )
        is_left = (pdf["role"] == "L").to_numpy()
        if is_left.all() or not is_left.any():
            # partner block hashed empty -> no cross pairs to score
            return pd.DataFrame(
                {"id_a": [], "id_b": [], "cosine": []}
            ).astype({"id_a": "int64", "id_b": "int64", "cosine": "float64"})
        lids, lm = side(is_left)
        rids, rm = side(~is_left)
        sims = lm @ rm.T
        a, b = np.nonzero(sims >= threshold)
        ia, ib = lids[a], rids[b]
        return pd.DataFrame(
            {
                "id_a": np.minimum(ia, ib),
                "id_b": np.maximum(ia, ib),
                "cosine": sims[a, b],
            }
        )

    scored = tasks.groupBy("bi", "bj").applyInPandas(
        score, "id_a long, id_b long, cosine double"
    )
    return scored.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """IVF-style ANN: search only the query's own coarse cell (probe=1).

    The equi-join on the cell id replaces the dense scan — at corpus
    scale each cell is a co-partitioned bucket, so scoring cost drops by
    the cell count at the price of recall (the standard IVF trade).
    Expression-based: per-cell candidate lists are small, so the JVM
    fold beats a Python round-trip.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        _as_double(F.col("embedding")).alias("qv"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        _as_double(F.col("embedding")).alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cosine", F.col("rank").cast("int").alias("rank")
        )
    )


# --- signed-random-projection (hyperplane) LSH ---------------------------

SRP_PLANES = 8  # total hyperplanes
SRP_BAND_BITS = 4  # bits per band -> SRP_PLANES // SRP_BAND_BITS bands
SRP_DIM = 64  # embedding dimensionality of the documents corpus


def srp_plane(p: int) -> list[float]:
    """Deterministic Rademacher (±1) hyperplane ``p`` — component ``d``
    is the high bit of md5(f"{p}_{d}")'s first hex char.

    ±1 components are a valid SRP family (sign of a Rademacher
    projection preserves angles like Gaussian ones do) and, unlike
    Gaussian draws, are replayable in ANSI SQL, so the DuckDB oracle can
    derive the identical planes.
    """
    import hashlib

    return [
        1.0 if hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0] >= "8" else -1.0
        for d in range(SRP_DIM)
    ]


def with_srp_bands(df: DataFrame) -> DataFrame:
    """Exploded (id, vec, band, band_key) — one row per (vector, band).

    ``band_key`` concatenates the sign bits of the band's projections
    (dot rounded to 6 dp first so an engine's last-ulp wobble at the
    boundary can't flip a bit). All JVM expressions — the plane
    coefficients are literal arrays, so each projection is a codegen'd
    fold, no Python.
    """
    v = _as_double(F.col("embedding"))
    # plane literals as ONE parsed expression each: building ±1.0 arrays
    # element-by-element with F.lit costs one py4j round-trip per
    # component (~0.5 s of driver time for 8×64 planes; guide §5)
    bits = [
        F.when(
            F.round(
                dot_expr(
                    v,
                    F.expr(
                        "array("
                        + ",".join(
                            "1.0D" if x > 0 else "-1.0D"
                            for x in srp_plane(p)
                        )
                        + ")"
                    ),
                ),
                6,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in range(SRP_PLANES)
    ]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *bits[b * SRP_BAND_BITS : (b + 1) * SRP_BAND_BITS]
                ).alias("band_key"),
            )
            for b in range(SRP_PLANES // SRP_BAND_BITS)
        ]
    )
    return df.select(
        F.col("vec_id"), F.col("embedding"), F.explode(bands).alias("bk")
    ).select("vec_id", "embedding", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))


def srp_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Hyperplane-LSH ANN top-k: candidates are corpus vectors sharing
    ≥ 1 sign-bit band with the query; exact cosine on candidates only.

    The IVF variant buckets by a precomputed cell id; this one needs no
    clustering step — buckets fall out of the data itself. Scale shape:
    corpus band rows stream against the BROADCAST query bands (map-side
    probe, no corpus shuffle for candidate generation), then one shuffle
    groups duplicate candidates and one per-query top-k window ranks.
    Recall tunes with bands × bits like any LSH.
    """
    qb = with_srp_bands(queries).select(
        F.col("vec_id").alias("query_id"),
        _as_double(F.col("embedding")).alias("qv"),
        "band",
        "band_key",
    )
    cb = with_srp_bands(corpus).select(
        F.col("vec_id").alias("neighbor_id"),
        _as_double(F.col("embedding")).alias("cv"),
        "band",
        "band_key",
    )
    cand = (
        cb.join(F.broadcast(qb), ["band", "band_key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair can match in several bands; vectors are identical per
        # pair so first() is deterministic here
        .groupBy("query_id", "neighbor_id")
        .agg(F.first("qv").alias("qv"), F.first("cv").alias("cv"))
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_expr(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# --- scalar quantization -------------------------------------------------

def quantize_embeddings(df: DataFrame) -> DataFrame:
    """Symmetric int8 scalar quantization of ``embedding``: per-vector
    scale = max |x|, q_i = floor(x_i · 127 / scale) ∈ [-127, 127]
    (all-zero vectors quantize to zeros). 4× memory cut for ANN
    candidate stages; exact floor-of-double arithmetic, so any engine
    reproduces every code.

    Column-expression formulation (fine at catalog dimensionality; swap
    the lambda for a mapInPandas numpy kernel if vectors are long —
    same output contract either way).
    """
    v = _as_double(F.col("embedding"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    q = F.when(scale == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.floor(x * 127 / scale).cast("int"))
    )
    return df.select(
        F.col("vec_id"),
        F.round(scale, 6).alias("scale"),
        q.alias("qvec"),
    )


def cosine_best_match(corpus: DataFrame, refs: DataFrame) -> DataFrame:
    """Best cosine match of every corpus vector against a SMALL
    reference set: (vec_id, best_ref_id, cosine) — the kernel of
    embedding-space decontamination, where refs are benchmark items and
    any corpus row scoring above a threshold is a semantic leak
    candidate.

    Unlike ``cosine_topk`` (per-QUERY top-k over the corpus) this
    reduces per-CORPUS-row over the references, so the scan is the
    whole job: refs broadcast, corpus streams through the GEMM, and the
    kernel emits only each row's argmax candidates — every reference
    within 1e-6 (the rounding quantum) of the row max, so the final
    6-dp HALF_UP rounding + smallest-ref-id tie-break is decided by
    Spark, not numpy's round-half-even. The only exchange is the
    candidate table (~1 row of 24 bytes per corpus vector), never the
    vectors.
    """
    rids, rmat = _collect_matrix(refs)
    if rids.size == 0:
        # no references -> no best match for any corpus row (the
        # oracle's CROSS JOIN against an empty reference set)
        return corpus.sparkSession.createDataFrame(
            [], "vec_id long, best_ref_id long, cosine double"
        )
    rnorm = _normalize(rmat)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            if batch.empty:
                continue
            cids = batch["vec_id"].to_numpy(dtype=np.int64)
            cmat = np.stack(batch["embedding"].to_numpy()).astype(np.float64)
            sims = _normalize(cmat) @ rnorm.T  # (nb, nr)
            mx = sims.max(axis=1)
            rows, cols = np.nonzero(sims >= mx[:, None] - 1e-6)
            yield pd.DataFrame(
                {
                    "vec_id": cids[rows],
                    "ref_id": rids[cols],
                    "cosine_raw": sims[rows, cols],
                }
            )

    cand = ensure_scan_parallelism(
        corpus.select("vec_id", "embedding")
    ).mapInPandas(
        fn, "vec_id long, ref_id long, cosine_raw double"
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.desc(F.round("cosine_raw", 6)), "ref_id"
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "vec_id",
            F.col("ref_id").alias("best_ref_id"),
            F.round("cosine_raw", 6).alias("cosine"),
        )
    )


def rrf_fuse(lex: DataFrame, vec: DataFrame, k: int) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of two per-query
    rank lists — the standard hybrid-retrieval combiner for a lexical
    (BM25) and a vector (cosine ANN) ranking.

    Inputs are (query_id, doc_id, rank) frames; a document absent from
    one list contributes 0 from that side. RRF(d) = Σ 1/(c + rank_d)
    is computed in scaled-integer form ``1e9 DIV (c + rank)`` so the
    fused score — and therefore the fused top-k cut — is engine-exact
    with no float summation anywhere. c=60 is the paper's constant.

    Scale: both inputs are already top-k-sized (|queries| × k rows),
    so the full-outer merge and re-rank are bounded by the rank lists,
    never the corpus; one exchange on query_id. No tie-break subtlety:
    equal fused scores break by doc_id.
    """
    a = lex.select("query_id", "doc_id", F.col("rank").alias("lex_rank"))
    b = vec.select("query_id", "doc_id", F.col("rank").alias("vec_rank"))
    fused = (
        a.join(b, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf_score_e9",
            F.coalesce(F.expr("1000000000 DIV (60 + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr("1000000000 DIV (60 + vec_rank)"), F.lit(0)),
        )
        .withColumn("rrf_score_e9", F.col("rrf_score_e9").cast("long"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_score_e9"), F.col("doc_id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            "rrf_score_e9",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            "rank",
        )
    )
