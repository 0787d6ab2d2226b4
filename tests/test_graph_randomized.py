"""Randomized cross-engine exactness for the graph family.

The item co-occurrence graph is mined from events props JSON; seeded
streams plant the structures the fixed testdata's uniform draws rarely
produce — one mega-user (a dense clique), bridge items shared across
many small users, and isolated two-item pairs — and the integer-ppm
PageRank, triangle counts, neighborhood Jaccard, and degree histogram
must replay bit-identically on DuckDB's recursive/relational oracles.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0x6AF1
QUERIES = (
    "q_graph_pagerank",
    "q_graph_triangles",
    "q_graph_node_jaccard",
    "q_graph_degree_distribution",
)


def _write_events(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    base = dt.datetime(2024, 2, 1)
    rows = []
    eid = 0

    def add(user, item):
        nonlocal eid
        rows.append(
            (
                eid,
                base + dt.timedelta(minutes=eid),
                user,
                "view",
                1.0,
                '{"k": %d}' % item,
            )
        )
        eid += 1

    # mega-user: a dense clique over 22 items
    for item in rng.sample(range(100), 22):
        add(1, item)
    # bridge item 7 shared by many small users
    for user in range(2, 20):
        add(user, 7)
        for item in rng.sample(range(100), rng.randint(1, 5)):
            add(user, item)
    # isolated pairs
    for user in range(20, 26):
        a, b = rng.sample(range(200, 260), 2)
        add(user, a)
        add(user, b)
    # events with no item key (must be ignored by the edge miner)
    for user in range(1, 10):
        rows.append(
            (eid + user * 1000, base, user, "click", 0.5, "{}")
        )
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/events.parquet")


def _duck_rows(root: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"parquet_scan('{root}/events.parquet/*.parquet')"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("case", range(2))
def test_graph_family_matches_duckdb_on_planted_structures(
    spark, tmp_path, case
):
    root = str(tmp_path / f"graph{case}")
    _write_events(spark, root, SEED + case)
    for name in QUERIES:
        qd = CATALOG[name]
        got = sorted(
            tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            )
            for r in query_rows(spark, qd, root)
        )
        want = sorted(
            tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            )
            for r in _duck_rows(root, qd.oracle)
        )
        assert got == want, f"{name} diverged on seed {SEED + case}"
        assert got, f"{name} returned empty on a structured graph"
