"""K-means clustering over embedding columns — the trained coarse
quantizer an IVF ANN index needs (operators/similarity.py's ivf_topk
probes whatever cell map it is given; this operator produces one).

Why quantized (int8) Lloyd's instead of float Lloyd's: k-means is
iterative, and every float summation order differs between engines, so a
float formulation can flip argmin assignments near ties and cascade into
different clusterings — unverifiable against an independent oracle. On
the int8 grid (operators/similarity.quantize_embeddings — exact
floor-of-double, engine-portable) every distance is an exact BIGINT sum
of squared integer differences and every centroid update an exact
floor-of-ratio, so two engines replay the identical iteration history
bit-for-bit. Quantized k-means is also the production-realistic variant:
coarse quantizers for billion-scale ANN are routinely trained on
compressed codes (the IVF literature's OPQ/SQ pipelines).

Scale shape (the part that must survive 100 TB):

- **Assignment is map-only.** Centroids are k×d integers — broadcast as
  literal arrays into a codegen'd zip_with/aggregate fold; no join, no
  shuffle, no Python. The corpus streams through one narrow projection
  per iteration.
- **The update is one key-partitioned shuffle per iteration**:
  posexplode to (cluster, dim) pairs and sum/count — k·d result groups
  regardless of corpus size, i.e. partial (map-side) aggregation does
  almost all the work.
- **The driver holds k×d integers per round** (the new centroids), never
  the data — the legitimate O(model) materialization every distributed
  k-means has.
- Codes are persisted across iterations (one quantization pass, not
  ``iterations`` of them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .distribute import CORPUS_CACHE, cache, ensure_scan_parallelism
from .similarity import quantize_embeddings


def _int_array_lit(values) -> str:
    """SQL text for a literal int array — parsed JVM-side in ONE
    py4j call. Building the same tree with nested ``F.lit`` costs one
    py4j round-trip per element (~1 ms each): a k=8 x d=64 centroid set
    re-built per Lloyd round was ~0.5 s of pure driver chatter, the
    m=16 x k=16 PQ codebook ~1 s per consumer (guide §5: the driver
    should do almost no work). Same literals, same folded tree."""
    return "array(" + ",".join(str(int(v)) for v in values) + ")"


def _sq_dist_expr(centroid: list[int]):
    """Exact BIGINT squared L2 distance between the ``qvec`` int-code
    array column and one literal centroid — a codegen'd fold, no Python,
    no join."""
    carr = F.expr(_int_array_lit(centroid))
    return F.aggregate(
        F.zip_with(
            F.col("qvec"),
            carr,
            lambda a, b: (a.cast("bigint") - b) * (a.cast("bigint") - b),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _assign(codes: DataFrame, centroids: list[list[int]]) -> DataFrame:
    """(id, qvec) + k literal centroids → (id, qvec, cluster, dist).

    argmin with lowest-cluster-index tie-break: array_position returns
    the FIRST index holding the minimum.
    """
    dists = F.array(*[_sq_dist_expr(c) for c in centroids])
    return codes.select(
        "*",
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cluster"),
        F.array_min(dists).alias("dist"),
    )


def kmeans_int8(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    return_model: bool = False,
):
    """Lloyd's k-means on int8-quantized vectors → (id, cluster, dist).

    Deterministic protocol (what the oracle replays):

    - **Init**: the k smallest ids' code vectors, cluster index assigned
      in id order.
    - **Iterate** ``iterations`` times: exact-integer argmin assignment
      (ties → lowest cluster index), then centroid update
      ``floor(sum/count)`` per dimension (exact: the ratio of exact
      BIGINTs is correctly rounded in double, and floor of it matches
      the true floor for |sum| < 2^53). A cluster that loses all members
      keeps its previous centroid.
    - **Output**: final assignment against the post-update centroids,
      with the exact BIGINT squared distance. With ``return_model``,
      returns (assignment, centroids) so callers can rank cells per
      query (multi-probe IVF) without retraining.
    """
    # Distribute before quantizing (r11 opt): every Lloyd pass below is
    # interpreted higher-order-function work per row, and a small vector
    # file scans as ONE task (profiled: the whole query ran single-task
    # at sf0.1). When under-partitioned, spread the raw vectors across
    # the cluster first — the persisted cache then keeps that
    # partitioning for all three assign passes. At real corpus scale the
    # scan already has >= defaultParallelism splits and this is a no-op.
    # (r12: shared helper — the file-estimate probe replaces the ~60-90
    # ms df.rdd plan-build probe; same decision, same plan.)
    df = ensure_scan_parallelism(df, "vec_id")
    codes = cache(
        quantize_embeddings(df).select(F.col("vec_id"), "qvec"), CORPUS_CACHE
    )
    seed_rows = codes.orderBy("vec_id").limit(k).collect()
    centroids = [list(r["qvec"]) for r in seed_rows]
    if not centroids:
        # empty input: no seeds, no model, no assignments — a typed
        # empty result instead of a zero-centroid _assign expression.
        # The id field's type comes from the INPUT schema (the populated
        # path passes vec_id through untouched), so a caller with an
        # int/string key gets the same schema on empty and populated
        # inputs (ADVICE r8 #3).
        id_type = df.schema["vec_id"].dataType.simpleString()
        out = df.sparkSession.createDataFrame(
            [], f"vec_id {id_type}, cluster int, dist bigint"
        )
        return (out, []) if return_model else out

    for _ in range(iterations):
        assigned = _assign(codes, centroids)
        stats = (
            assigned.select("cluster", F.posexplode("qvec").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(
                F.floor(F.sum("x") / F.count(F.lit(1))).alias("val")
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty keeps prior
        for row in stats:
            new_centroids[row["cluster"]][row["pos"]] = int(row["val"])
        centroids = new_centroids

    out = _assign(codes, centroids).select(F.col("vec_id"), "cluster", "dist")
    if return_model:
        return out, centroids
    return out


# --- product quantization (PQ) ---------------------------------------------
#
# The billion-scale ANN compression standard (Jégou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"): split each vector into m
# subvectors, train an independent k-centroid codebook per subspace, store
# every vector as m small codes, and answer queries by Asymmetric Distance
# Computation — per query, precompute the m×k lookup table of exact
# subspace distances once, then score any corpus vector with m table
# lookups instead of d multiplies.
#
# Formulated on the same int8 grid as kmeans_int8 (see module docstring):
# every subspace distance is an exact BIGINT, every codebook update an
# exact floor-of-ratio — so an independent engine replays training,
# encoding, the per-query LUTs and every ADC score bit-for-bit.


def _sub_split(codes: DataFrame, m: int) -> DataFrame:
    """(vec_id, qvec) → (vec_id, sub, svec): m subvector rows per
    vector."""
    sd = (F.size("qvec") / m).cast("int")
    return codes.select(
        F.col("vec_id"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.struct(
                    s.cast("int").alias("sub"),
                    F.slice("qvec", s * sd + 1, sd).alias("svec"),
                ),
            )
        ).alias("__s"),
    ).select("vec_id", "__s.sub", "__s.svec")


def _sq_dist_cols(a, b):
    """Exact BIGINT squared L2 distance between two int array columns."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("bigint") - y) * (x.cast("bigint") - y)
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def _codebook_lit(codebooks: list[list[list[int]]]):
    """m×k×sd literal nested array — the broadcast model. One parsed
    expression, not m·k·sd nested ``F.lit`` py4j calls (see
    :func:`_int_array_lit`)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_int_array_lit(c) for c in book) + ")"
            for book in codebooks
        )
        + ")"
    )


def _pq_assign(scodes: DataFrame, codebooks: list[list[list[int]]]) -> DataFrame:
    """(id, sub, svec) → + (code, dist): argmin over the row's own
    subspace codebook — map-only against the broadcast literal model,
    ties to the lowest code index."""
    dists = F.transform(
        F.element_at(_codebook_lit(codebooks), F.col("sub") + 1),
        lambda c: _sq_dist_cols(F.col("svec"), c),
    )
    return scodes.select(
        "*",
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("code"),
        F.array_min(dists).alias("dist"),
    )


def pq_train(
    df: DataFrame,
    train_limit: int,
    m: int = 4,
    k: int = 8,
    iterations: int = 2,
) -> tuple[list[list[list[int]]], DataFrame]:
    """Train m independent subspace codebooks (k centroids each) with
    the kmeans_int8 protocol per subspace → (codebooks, scodes), where
    scodes is the persisted (id, sub, svec) subvector frame every PQ
    pass (encoding, LUT scoring) consumes.

    Deterministic protocol (the oracle replays it): seeds are the k
    smallest corpus ids' subvectors (cluster index in id order,
    identical across subspaces); per iteration, exact-integer argmin
    assignment over the training sample (ties → lowest code) then
    floor-of-ratio codebook update per (sub, code, dim), empty cells
    keeping their previous centroid.

    The training sample is the vectors with id < ``train_limit`` — the
    production PQ protocol (Faiss/ScaNN train codebooks on a bounded
    sample whatever the corpus size). It is an id-prefix, not a random
    draw, so the oracle replays it. The sample is model-scale by
    contract: one collect fetches it, and the Lloyd rounds run
    driver-side — the cluster touches the corpus only to quantize and,
    later, to encode it. A sample of ≥ k ids holds every seed; only a
    thinner one costs a second collect for the seed vectors.
    """
    # distribute an under-partitioned scan before the quantize+split
    # projections — see kmeans_int8; the persisted cache keeps the
    # spread for every downstream PQ pass (encode, LUTs)
    df = ensure_scan_parallelism(df, "vec_id")
    codes = quantize_embeddings(df).select(F.col("vec_id"), "qvec")
    scodes = cache(_sub_split(codes, m), CORPUS_CACHE)
    vecs: dict[int, dict[int, list[int]]] = {}

    def fetch(rows):
        for r in rows.collect():
            vecs.setdefault(r["vec_id"], {})[r["sub"]] = r["svec"]

    fetch(scodes.filter(F.col("vec_id") < train_limit))
    sample = sorted(vecs)
    if len(sample) < k:
        # every vector has exactly m subvector rows, so the k·m smallest
        # (id, sub) rows are the k seed vectors
        fetch(scodes.orderBy("vec_id", "sub").limit(k * m))
    if not vecs:
        # empty corpus: no codebooks to train; callers get ([], scodes)
        # and must produce their typed empty result
        return [], scodes
    # the sample is an id prefix, so the k smallest collected ids are
    # the seeds
    seeds = sorted(vecs)[:k]
    return _pq_train_local(vecs, seeds, sample, m, iterations), scodes


def _pq_train_local(vecs, seeds, sample, m: int, iterations: int):
    """Driver-side Lloyd rounds per subspace, in exactly the oracle's
    integer arithmetic: assignment is integer-L2 argmin with ties to the
    lowest code (np.argmin = first minimum); update is floor(sum/count)
    per (sub, code, dim) (np.floor_divide), empty cells keep their
    previous centroid."""
    import numpy as np

    books = []
    for s in range(m):
        cb = np.array([vecs[i][s] for i in seeds], dtype=np.int64)
        x = np.array([vecs[i][s] for i in sample], dtype=np.int64)
        x = x.reshape(len(sample), cb.shape[1])  # (0, sd) when empty
        for _ in range(iterations):
            d = ((x[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            code = d.argmin(axis=1)
            new = cb.copy()
            for c in range(len(cb)):
                mask = code == c
                if mask.any():
                    new[c] = np.floor_divide(
                        x[mask].sum(axis=0), int(mask.sum())
                    )
            cb = new
        books.append(cb.tolist())
    return books


def pq_encode(
    scodes: DataFrame, codebooks: list[list[list[int]]]
) -> DataFrame:
    """(id, sub, svec) + codebooks → (id, codes array<int>): each vector
    compressed to m codes (the PQ index payload — 16 bytes replacing
    d floats at m=16; 1:16 at d=64)."""
    return (
        _pq_assign(scodes, codebooks)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "code"))),
                lambda x: x["code"],
            ).alias("codes")
        )
    )


def _adc_luts(
    scodes: DataFrame, codebooks: list[list[list[int]]], n_queries: int
) -> DataFrame:
    """(query_id, lut): per query the m×k table of exact subspace
    distances to every codebook centroid — the model-sized frame ADC
    scoring broadcasts."""
    lut_rows = F.transform(
        F.element_at(_codebook_lit(codebooks), F.col("sub") + 1),
        lambda c: _sq_dist_cols(F.col("svec"), c),
    )
    return (
        scodes.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), "sub", lut_rows.alias("lr"))
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub", "lr"))),
                lambda x: x["lr"],
            ).alias("lut")
        )
    )


def _adc_score_expr(m: int):
    """Σ_s lut[s][codes[s]] — m BIGINT lookups per (corpus, query)."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(m)),
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at("lut", s), F.element_at("codes", s) + 1
        ),
    )


def _adc_rank(scored: DataFrame, k_top: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k_top)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def pq_adc_topk(
    scodes: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[int]]],
    n_queries: int,
    k_top: int,
) -> DataFrame:
    """ADC top-k: per query, precompute the m×k LUT of exact subspace
    distances to every codebook centroid, then score each corpus vector
    with m BIGINT lookups — the flat (exhaustive-scan) PQ search.

    The query LUT frame is n_queries rows (model-sized) and broadcasts;
    corpus vectors stream through the lookup fold map-side, so the only
    shuffle is the per-query top-k window over corpus×n_queries scored
    rows — swap for a map-side partial top-k combine at extreme scale
    (the cosine_topk pattern).

    Empty codebooks (pq_train saw an empty corpus) yield a typed empty
    result — no LUT expression can be built over zero centroids.
    """
    if not codebooks:
        # id types follow the inputs (populated path renames vec_id
        # from scodes/encoded into query_id/neighbor_id) — ADVICE r8 #3
        q_t = scodes.schema["vec_id"].dataType.simpleString()
        n_t = encoded.schema["vec_id"].dataType.simpleString()
        return scodes.sparkSession.createDataFrame(
            [],
            f"query_id {q_t}, neighbor_id {n_t}, adc_dist bigint, rank int",
        )
    luts = _adc_luts(scodes, codebooks, n_queries)
    scored = (
        encoded.withColumnRenamed("vec_id", "neighbor_id")
        .join(F.broadcast(luts))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_score_expr(len(codebooks)).alias("adc_dist"),
        )
    )
    return _adc_rank(scored, k_top)


def ivfpq_adc_topk(
    scodes: DataFrame,
    encoded: DataFrame,
    codebooks: list[list[list[int]]],
    cells: DataFrame,
    n_queries: int,
    k_top: int,
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011, the billion-vector architecture):
    coarse cells prune the search to the query's own cell (probe=1),
    PQ-ADC scores only the survivors — compute drops by the cell count
    ON TOP of the 16-byte-code memory cut, the multiplicative trade
    flat PQ (pq_adc_topk) and plain IVF (ivf_topk) each take alone.

    ``cells`` is (id, cell) from the trained coarse quantizer
    (kmeans_int8). The LUT frame gains the query's cell and broadcasts;
    corpus codes join it ON THE CELL, so a corpus vector is scored
    against the queries in its cell only — the join equality does the
    pruning, no post-filter.

    Empty codebooks (empty corpus) yield a typed empty result, matching
    pq_adc_topk.
    """
    if not codebooks:
        q_t = scodes.schema["vec_id"].dataType.simpleString()
        n_t = encoded.schema["vec_id"].dataType.simpleString()
        return scodes.sparkSession.createDataFrame(
            [],
            f"query_id {q_t}, neighbor_id {n_t}, adc_dist bigint, rank int",
        )
    cq = cells.select(
        F.col("vec_id").alias("query_id"), F.col("cluster").alias("cell")
    )
    cn = cells.select(
        F.col("vec_id").alias("neighbor_id"), F.col("cluster").alias("cell")
    )
    luts = _adc_luts(scodes, codebooks, n_queries).join(cq, "query_id")
    scored = (
        encoded.withColumnRenamed("vec_id", "neighbor_id")
        .join(cn, "neighbor_id")
        .join(F.broadcast(luts), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _adc_score_expr(len(codebooks)).alias("adc_dist"),
        )
    )
    return _adc_rank(scored, k_top)
