"""Integer-ppm PageRank semantics on hand-built graphs."""

from __future__ import annotations

import pytest

from aircraftutilization_etl_spark.operators.graph import pagerank


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def _model(edges, n_iter):
    # independent scalar model of the integer recurrence
    nodes = {n for e in edges for n in e}
    out = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {n: 1_000_000 for n in nodes}
    for _ in range(n_iter):
        s = {n: 0 for n in nodes}
        for u, v in edges:
            s[v] += r[u] // out[u]
        r = {n: 150_000 + (850_000 * s[n]) // 1_000_000 for n in nodes}
    return r


@pytest.mark.parametrize("n_iter", [0, 1, 3])
def test_matches_scalar_model(spark, n_iter):
    pairs = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 1)]
    got = {
        r["node"]: r["rank_ppm"]
        for r in pagerank(_edges(spark, pairs), n_iter).collect()
    }
    assert got == _model(pairs, n_iter)


def test_no_in_edges_settles_at_teleport_floor(spark):
    # node 4 has out-edges only: after one iteration it holds exactly
    # the teleport mass
    got = {
        r["node"]: r["rank_ppm"]
        for r in pagerank(_edges(spark, [(4, 1), (1, 4), (1, 2), (2, 1)]), 3).collect()
    }
    assert got[2] > 150_000  # receives mass
    model = _model([(4, 1), (1, 4), (1, 2), (2, 1)], 3)
    assert got == model


def test_partitioning_independent(spark):
    pairs = [(i, (i * 7 + 3) % 20) for i in range(60)] + [
        ((i * 3) % 20, i % 20) for i in range(40)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    df = _edges(spark, pairs)
    a = {tuple(r) for r in pagerank(df, 4).collect()}
    b = {tuple(r) for r in pagerank(df.repartition(11), 4).collect()}
    assert a == b


def test_triangle_stats_hand_graph(spark):
    from aircraftutilization_etl_spark.operators.graph import triangle_stats

    # triangle 1-2-3, pendant 3-4, triangle-free square 5-6-7-8
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (5, 6), (6, 7), (7, 8), (5, 8)],
        "item_a int, item_b int",
    )
    out = {r["node"]: r for r in triangle_stats(edges).collect()}
    assert out[1]["n_triangles"] == 1 and out[1]["degree"] == 2
    assert out[1]["clustering_ppm"] == 1_000_000
    assert out[3]["degree"] == 3 and out[3]["n_triangles"] == 1
    assert out[3]["clustering_ppm"] == 333_333
    assert out[4]["n_triangles"] == 0 and out[4]["clustering_ppm"] == 0
    for n in (5, 6, 7, 8):
        assert out[n]["n_triangles"] == 0 and out[n]["degree"] == 2


def _union_find_components(edges):
    """Pure-Python model: node -> the minimum node id of its component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


class TestStarComponents:
    def _pairs(self, spark, edges):
        return spark.createDataFrame(edges, "id_a long, id_b long")

    def test_long_chain_converges_fast(self, spark):
        from aircraftutilization_etl_spark.operators.graph import (
            connected_components_star,
        )

        # paths of 8 and 60 edges: label propagation would need as many
        # rounds as edges; star contraction must finish far inside 25
        for n in (8, 60):
            chain = [(i, i + 1) for i in range(n)]
            rows = connected_components_star(self._pairs(spark, chain)).collect()
            assert {r.node: r.component for r in rows} == {
                i: 0 for i in range(n + 1)
            }

    def test_matches_union_find_on_random_graphs(self, spark):
        import random

        from aircraftutilization_etl_spark.operators.graph import (
            connected_components_star,
        )

        rng = random.Random(42)
        for trial in range(3):
            edges = [
                (rng.randrange(40), rng.randrange(40)) for _ in range(35)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            star = {
                r.node: r.component
                for r in connected_components_star(
                    self._pairs(spark, edges)
                ).collect()
            }
            assert star == _union_find_components(edges), (
                f"trial {trial} diverged"
            )

    def test_two_components_and_isolated_root_labels(self, spark):
        from aircraftutilization_etl_spark.operators.graph import (
            connected_components_star,
        )

        cases = [
            ([(5, 9), (9, 7), (20, 30)], {5: 5, 9: 5, 7: 5, 20: 20, 30: 20}),
            # chain 1-2-3 plus a separate pair 10-11
            ([(1, 2), (2, 3), (10, 11)], {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}),
        ]
        for edges, want in cases:
            got = {
                r.node: r.component
                for r in connected_components_star(
                    self._pairs(spark, edges)
                ).collect()
            }
            assert got == want

    def test_empty_pairs_give_typed_empty_result(self, spark):
        import threading

        from aircraftutilization_etl_spark.operators.graph import (
            connected_components_star,
        )

        # the fingerprint Observation must still fire when every stage
        # is empty — run in a thread so a lost metric fails, not hangs
        got = {}

        def run():
            out = connected_components_star(self._pairs(spark, []))
            got["schema"] = out.schema.simpleString()
            got["rows"] = out.collect()

        t = threading.Thread(target=run, daemon=True)
        t.start()
        t.join(timeout=300)
        assert not t.is_alive(), "connected_components_star hung on empty input"
        assert got == {
            "schema": "struct<node:bigint,component:bigint>",
            "rows": [],
        }


class TestKnnBfs:
    def test_knn_keeps_k_strongest_with_id_ties(self, spark):
        from aircraftutilization_etl_spark.operators.graph import knn_edges

        rows = [
            (1, 2, 10), (1, 3, 9), (1, 4, 9), (1, 5, 1),
            (2, 1, 10), (2, 3, 2),
        ]
        df = spark.createDataFrame(rows, "src long, dst long, weight long")
        got = {(r.src, r.dst) for r in knn_edges(df, 2).collect()}
        # node 1: weight 10 -> 2; tie at 9 between 3 and 4 -> lower id 3
        assert got == {(1, 2), (1, 3), (2, 1), (2, 3)}

    def test_bfs_depths_on_a_path_graph(self, spark):
        from aircraftutilization_etl_spark.operators.graph import bfs_depths

        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (9, 0)],
            "src long, dst long",
        )
        got = {r.node: r.depth for r in bfs_depths(edges, 3).collect()}
        # source is min src = 0; 9 is unreachable forward; 4,5 beyond cap
        assert got == {0: 0, 1: 1, 2: 2, 3: 3}

    def test_bfs_first_reach_wins_on_diamond(self, spark):
        from aircraftutilization_etl_spark.operators.graph import bfs_depths

        edges = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 3), (2, 3), (3, 0)],
            "src long, dst long",
        )
        got = {r.node: r.depth for r in bfs_depths(edges, 4).collect()}
        assert got == {0: 0, 1: 1, 2: 1, 3: 2}


class TestNeighborhoodJaccard:
    def test_hand_computed_square(self, spark):
        from aircraftutilization_etl_spark.operators.graph import (
            neighborhood_jaccard,
        )

        # directed: N(1)={2,3}, N(2)={3}, N(3)={2}, N(4)={2,3}
        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 2), (4, 2), (4, 3)],
            "src long, dst long",
        )
        got = {
            (r.node_a, r.node_b): (r.n_common, r.jaccard_ppm, r.is_edge)
            for r in neighborhood_jaccard(edges).collect()
        }
        # (1,4): {2,3} vs {2,3} -> J=1, no edge either direction
        assert got[(1, 4)] == (2, 1_000_000, False)
        # (1,2): {2,3} vs {3} -> 1/2, edge 1->2 exists
        assert got[(1, 2)] == (1, 500_000, True)
        # (2,3): {3} vs {2} -> no shared neighbor: absent
        assert (2, 3) not in got

    def test_min_ppm_filters(self, spark):
        from aircraftutilization_etl_spark.operators.graph import (
            neighborhood_jaccard,
        )

        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 2), (4, 2), (4, 3)],
            "src long, dst long",
        )
        got = neighborhood_jaccard(edges, min_ppm=600_000).collect()
        assert {(r.node_a, r.node_b) for r in got} == {(1, 4)}


class TestNeighborhoodJaccardRandomized:
    def test_randomized_vs_python_sets(self, spark):
        import random

        from aircraftutilization_etl_spark.operators.graph import (
            neighborhood_jaccard,
        )

        for seed in (3, 41):
            rng = random.Random(seed)
            nodes = list(range(rng.randint(4, 9)))
            edges = set()
            for s in nodes:
                for d in nodes:
                    if s != d and rng.random() < 0.4:
                        edges.add((s, d))
            if not edges:
                continue
            df = spark.createDataFrame(
                sorted(edges), "src long, dst long"
            )
            got = {
                (r.node_a, r.node_b): (
                    r.n_common,
                    r.jaccard_ppm,
                    r.is_edge,
                )
                for r in neighborhood_jaccard(df).collect()
            }
            nbrs = {}
            for s, d in edges:
                nbrs.setdefault(s, set()).add(d)
            expect = {}
            ns = sorted(nbrs)
            for i, a in enumerate(ns):
                for b in ns[i + 1 :]:
                    inter = nbrs[a] & nbrs[b]
                    if not inter:
                        continue
                    union = len(nbrs[a]) + len(nbrs[b]) - len(inter)
                    expect[(a, b)] = (
                        len(inter),
                        len(inter) * 1_000_000 // union,
                        (a, b) in edges or (b, a) in edges,
                    )
            assert got == expect, seed
