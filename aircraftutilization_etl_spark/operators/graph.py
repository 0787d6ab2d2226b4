"""Iterative graph algorithms as DataFrame loops.

PageRank here is the representative: the per-iteration step is one join
(ranks onto out-edges) plus one aggregation (sum contributions by
target) — embarrassingly shuffle-parallel, the classic Pregel step
expressed relationally. Two deliberate design points:

- **Integer arithmetic.** Ranks are parts-per-million BIGINTs and every
  division is integer DIV. Floating-point PageRank is nondeterministic
  across engines AND across Spark partitionings (double addition isn't
  associative); integer sums are order-independent, so the result is
  bit-identical everywhere — which is what lets a DuckDB recursive CTE
  oracle replay the exact ranks. The truncation bias (≤1 ppm per term)
  is far below any ranking use's tolerance.
- **Lineage truncation.** Each iteration's plan references the previous
  ranks twice (join + aggregate); left un-truncated the logical plan
  doubles per round and the driver OOMs analyzing it.
  ``localCheckpoint`` caps the plan at one iteration.

Scale: each iteration shuffles |edges| contribution rows on the dst key
with map-side partial sums — the same profile as any groupBy; skewed
in-degree (celebrity nodes) is additive-aggregation skew, which AQE
splits fine. The edge list with out-degrees is computed once and
persisted, not rebuilt per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .distribute import CORPUS_CACHE, MODEL_CACHE, cache

PPM = 1_000_000
DAMPING_PPM = 850_000  # 0.85, the canonical damping factor
BASE_PPM = PPM - DAMPING_PPM  # (1 - d) teleport mass per node


def pagerank(
    edges: DataFrame,
    n_iterations: int = 5,
    rank_partitions: int | None = None,
) -> DataFrame:
    """Integer-ppm PageRank over a directed edge list; returns
    (node, rank_ppm) after ``n_iterations`` synchronous updates from a
    uniform 1e6-ppm start.

    r'(v) = 150000 + (850000 · Σ_{u→v} (r(u) DIV outdeg(u))) DIV 1e6

    Nodes = every id appearing as src or dst. Dangling nodes (no
    out-edges) leak their mass — the standard simplification; nodes with
    no in-edges settle at the 150000 teleport floor. For symmetric edge
    lists (undirected graphs, e.g. co-occurrence) neither case exists.

    ``rank_partitions``: when the NODE set is small relative to the
    edge set (item graphs, vocabulary graphs — often 10^2..10^6 nodes
    under billions of edges), coalescing the per-iteration rank table to
    a few partitions cuts each round's task count from
    shuffle-partition-many near-empty tasks to a handful (measured ~2×
    on the co-occurrence bench). Leave ``None`` when nodes scale with
    edges (social graphs) — ranks then keep the parent partitioning.
    """
    if n_iterations < 0:
        raise ValueError("n_iterations must be >= 0")
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # edge-scale cache, reused every iteration
    out_edges = cache(e.join(deg, "src"), CORPUS_CACHE)
    # derive nodes from the persisted edge table, not the raw input —
    # an expensive upstream (e.g. co-occurrence mining) runs once
    nodes = (
        out_edges.select(F.col("src").alias("node"))
        .union(out_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    if rank_partitions is not None:
        nodes = nodes.coalesce(rank_partitions)
    nodes = cache(nodes, MODEL_CACHE)
    ranks = nodes.select("node", F.lit(PPM).cast("long").alias("rank_ppm"))
    for _ in range(n_iterations):
        # no broadcast hints here, deliberately: per-iteration broadcast
        # exchanges are built on the driver, and that serial cost GROWS
        # in a long-lived session (measured: hinted variants ~35% slower
        # than plain shuffle joins after a bench-like query history,
        # while AQE already right-sizes these tiny exchanges at runtime)
        contribs = (
            out_edges.join(ranks, out_edges["src"] == ranks["node"])
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_ppm DIV __deg").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            F.expr(
                f"CAST({BASE_PPM} + ({DAMPING_PPM} * COALESCE(__s, 0L))"
                f" DIV {PPM} AS BIGINT)"
            ).alias("rank_ppm"),
        )
        if rank_partitions is not None:
            ranks = ranks.coalesce(rank_partitions)
        # truncate lineage: the loop otherwise doubles the plan per
        # round. Rounds checkpoint LAZILY — the round count is fixed, so
        # unlike connected_components_star there is no per-round
        # convergence check, and materializing each round as its own
        # job is pure scheduling overhead; lazy marks leave the whole
        # run to the consumer's action while still capping the analyzed
        # plan at one iteration.
        ranks = ranks.localCheckpoint(eager=False)
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient over an
    undirected graph given as canonical (item_a < item_b) edge rows.

    Degree-ordered orientation (the scale-correct trick): each
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher one, making the graph acyclic with out-degrees bounded by
    O(sqrt(m)) — wedge generation then costs sum(outdeg²) = O(m^1.5)
    TOTAL even on power-law graphs, where id-ordered wedges around a
    celebrity hub would blow up quadratically. Each triangle closes
    exactly once; per-node counts explode the closed triple.

    Coefficient is integer ppm — 2·t·10⁶ DIV d·(d−1) — so the output is
    bit-identical across engines and partitionings (no float division).

    Shape: degree build is one shuffle over the symmetrized edges; the
    wedge join and the closing-edge join are equi-joins on node/pair
    keys; everything else is map-side.
    """
    sym = edges.select(
        F.col("item_a").alias("u"), F.col("item_b").alias("v")
    ).union(
        edges.select(F.col("item_b").alias("u"), F.col("item_a").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    # orient: (deg, id)-smaller endpoint -> larger
    e = (
        edges.join(
            deg.select(F.col("u").alias("item_a"), F.col("d").alias("da")),
            "item_a",
        )
        .join(
            deg.select(F.col("u").alias("item_b"), F.col("d").alias("db")),
            "item_b",
        )
        .select(
            F.when(
                (F.col("da") < F.col("db"))
                | (
                    (F.col("da") == F.col("db"))
                    & (F.col("item_a") < F.col("item_b"))
                ),
                F.col("item_a"),
            )
            .otherwise(F.col("item_b"))
            .alias("src"),
            F.when(
                (F.col("da") < F.col("db"))
                | (
                    (F.col("da") == F.col("db"))
                    & (F.col("item_a") < F.col("item_b"))
                ),
                F.col("item_b"),
            )
            .otherwise(F.col("item_a"))
            .alias("dst"),
        )
    )
    # wedges out of a common source close on an oriented edge; the
    # dst-pair ordering dedupes the two wedge orderings around src
    w = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.src") == F.col("e2.src"))
        .filter(F.col("e1.dst") < F.col("e2.dst"))
        .select(
            F.col("e1.src").alias("a"),
            F.col("e1.dst").alias("b"),
            F.col("e2.dst").alias("c"),
        )
    )
    closing = e.select(
        F.least("src", "dst").alias("x"), F.greatest("src", "dst").alias("y")
    )
    tri = w.join(
        closing,
        (F.least("b", "c") == F.col("x")) & (F.greatest("b", "c") == F.col("y")),
    ).select("a", "b", "c")
    per_node = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("u"))
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        deg.join(per_node, "u", "left")
        .select(
            F.col("u").alias("node"),
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("n_triangles", F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.when(F.col("d") >= 2,
                   F.expr("2 * coalesce(n_triangles, 0) * 1000000 "
                          "DIV (d * (d - 1))"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("clustering_ppm"),
        )
    )


def connected_components_star(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") → (node, component) with component = the
    component's minimum node id.

    Star contraction converges in O(log^2 n) rounds on ANY topology —
    label propagation would need as many rounds as the graph's
    diameter, a scale hazard wherever chains can be long (an
    adversarial corpus can chain near-duplicates arbitrarily far). Each
    round rewires every node toward its neighborhood minimum:

    - large-star: for each node u, connect every STRICTLY LARGER
      neighbor to min(N(u) ∪ {u});
    - small-star: connect every neighbor ≤ u (and u) to that minimum.

    Each phase is one groupBy(min) + one join re-keyed on the
    neighbor — two exchanges per phase, lineage truncated per round
    (the same localCheckpoint discipline as every iterative loop
    here). Convergence = the canonical edge set stops changing,
    detected with a count + XOR-folded hash observed on the round's
    own checkpoint job (two scalars to the driver, never the data, no
    extra job); a stable star graph IS the component assignment.
    """
    fwd = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def _star(e: DataFrame, large: bool) -> DataFrame:
        # neighborhood minimum per u over the symmetric view, u included
        sym = _sym(e)
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        linked = sym.join(m, "u")
        keep = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = linked.filter(keep).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        if not large:
            out = out.unionByName(m.select("u", F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).distinct()

    def _checkpoint(e: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
        # the fingerprint rides the checkpoint's job as an Observation
        # at the plan root, where no empty-input pruning can drop it
        obs = Observation()
        e = e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and overflow-free (a SUM of
            # 64-bit hashes trips ANSI overflow)
            F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))).alias("h"),
        ).localCheckpoint(eager=True)
        return e, (obs.get["n"], obs.get["h"])

    edges, prev = _checkpoint(
        _sym(fwd).filter(F.col("u") != F.col("v")).distinct()
    )
    all_nodes = edges.select(F.col("u").alias("node")).distinct()
    for _ in range(25):
        edges = _star(edges, large=True).localCheckpoint(eager=True)
        edges, cur = _checkpoint(_star(edges, large=False))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            "connected_components_star did not stabilize within 25 rounds"
        )
    # stable state: every non-root points directly at its component min
    roots = edges.groupBy("u").agg(F.min("v").alias("component"))
    return (
        all_nodes.join(roots, all_nodes.node == roots.u, "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def knn_edges(weighted_pairs: DataFrame, k: int) -> DataFrame:
    """Sparsify a weighted similarity graph to each node's k strongest
    neighbors (ties by neighbor id) — the k-NN graph construction used
    before clustering/label propagation at scale, where the dense
    similarity graph is quadratic but the k-NN skeleton is k·|V|.

    Scale: one shuffle on the src for the per-node top-k window; the
    output is k·|V| edges regardless of input density.
    """
    w = Window.partitionBy("src").orderBy(F.desc("weight"), F.col("dst"))
    return (
        weighted_pairs.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("src", "dst")
    )


def bfs_depths(edges: DataFrame, max_depth: int) -> DataFrame:
    """Breadth-first reachability: (node, depth) for every node within
    ``max_depth`` hops of the source (the smallest src id),
    depth = first-reach distance.

    The frontier loop is the synchronous-BFS shape of the iterative
    family here (pagerank, star contraction): per round one
    frontier⋈edges join plus an anti-join against the visited set — the
    anti-join IS the visited-set pruning that keeps work proportional
    to newly reached nodes, not paths (an unpruned walk is
    combinatorial in a dense graph). Lineage truncated per round; the
    frontier is usually the small side, so AQE broadcasts it into the
    edge scan.
    """
    e = cache(edges.select("src", "dst"), CORPUS_CACHE)  # edge-scale
    source = e.agg(F.min("src")).collect()[0][0]
    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "node long, depth int")
    frontier = dist
    for d in range(1, max_depth + 1):
        reached = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = reached.join(dist, "node", "left_anti").select(
            "node", F.lit(d).cast("int").alias("depth")
        )
        dist = dist.unionByName(fresh).localCheckpoint(eager=False)
        frontier = fresh
    return dist


def neighborhood_jaccard(
    edges: DataFrame, min_ppm: int = 0
) -> DataFrame:
    """Node-pair similarity by neighborhood Jaccard — the classic
    link-prediction / "related items" primitive: two nodes are similar
    when their neighbor sets overlap, whether or not they are directly
    connected. Input is a directed edge list; a node's neighborhood is
    its OUT-neighbor set (pass a symmetrized list for undirected
    semantics). Output is one row per unordered candidate pair with
    ≥ 1 shared neighbor: (node_a, node_b, n_common, jaccard_ppm,
    is_edge) — ``is_edge`` true when the pair is connected in either
    direction.

    jaccard_ppm = |N(a)∩N(b)|·10⁶ DIV (|N(a)|+|N(b)|−|N(a)∩N(b)|) —
    integer arithmetic end to end, bit-identical across engines. The
    ``is_edge`` flag (left-semi existence against the edge set) keeps
    both downstream uses alive: recommend-new (filter NOT is_edge) and
    edge-reinforcement scoring (filter is_edge).

    Scale: candidate pairs form only through the wedge equi-join on
    the shared neighbor (cost Σ_v deg(v)² — the same bucketed-not-
    all-pairs discipline as the shingle joins; hub nodes are the skew
    and a production run caps or samples super-hub adjacency first).
    Degrees join in group-count-sized; no windows, no Python.
    """
    e = edges.select("src", "dst")
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    w1 = e.select(F.col("dst").alias("nbr"), F.col("src").alias("node_a"))
    w2 = e.select(F.col("dst").alias("nbr"), F.col("src").alias("node_b"))
    common = (
        w1.join(w2, "nbr")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    da = deg.select(F.col("src").alias("node_a"), F.col("d").alias("__da"))
    db = deg.select(F.col("src").alias("node_b"), F.col("d").alias("__db"))
    und = (
        e.select(
            F.least("src", "dst").alias("node_a"),
            F.greatest("src", "dst").alias("node_b"),
            F.lit(1).alias("__e"),
        ).distinct()
    )
    out = (
        common.join(da, "node_a")
        .join(db, "node_b")
        .join(und, ["node_a", "node_b"], "left")
        .select(
            "node_a",
            "node_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.expr(
                "CAST(n_common * 1000000 DIV (__da + __db - n_common)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.col("__e").isNotNull().alias("is_edge"),
        )
    )
    return out.filter(F.col("jaccard_ppm") >= min_ppm)
