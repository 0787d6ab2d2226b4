"""Randomized cross-engine exactness for the events-based warehouse
family (SCD2 histories, changelog snapshots, incremental rollups).

Temporal-boundary material the fixed testdata rarely produces: users
whose attribute changes land on IDENTICAL timestamps (tie semantics in
validity ranges), single-event users (open-ended current rows),
rapid-fire change bursts, and long quiet histories — with values as
exact binary quarters so rollup sums are order-independent.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0x5CD2
QUERIES = (
    "q_scd2_user_history",
    "q_scd2_point_in_time",
    "q_changelog_snapshot",
    "q_incremental_rollup",
    "q_scd2_apply",
)


def _write_events(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    types = ["click", "error", "purchase", "signup", "view"]
    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(user, t, typ=None):
        nonlocal eid
        rows.append(
            (
                eid,
                t,
                user,
                typ or rng.choice(types),
                rng.randint(0, 400) / 4.0,
                "{}",
            )
        )
        eid += 1

    for user in range(1, 31):
        style = user % 4
        if style == 0:  # single event — open-ended current row
            add(user, base + dt.timedelta(hours=rng.randint(0, 400)))
        elif style == 1:  # burst: many events at the SAME timestamp
            t = base + dt.timedelta(hours=rng.randint(0, 200))
            for _ in range(rng.randint(2, 6)):
                add(user, t)
        elif style == 2:  # rapid-fire minute-apart changes
            t = base + dt.timedelta(hours=rng.randint(0, 200))
            for _ in range(rng.randint(5, 15)):
                t += dt.timedelta(minutes=1)
                add(user, t)
        else:  # long quiet history across weeks
            t = base
            for _ in range(rng.randint(3, 10)):
                t += dt.timedelta(days=rng.randint(1, 9))
                add(user, t)
    rng.shuffle(rows)
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
def test_warehouse_family_matches_duckdb_on_temporal_boundaries(
    spark, tmp_path, case
):
    def canon(r):
        # open-ended SCD2 rows carry NULL valid_to — stringify so the
        # row tuples stay sortable and engine-comparable
        return tuple(
            "NULL" if v is None
            else repr(round(v, 9)) if isinstance(v, float)
            else str(v)
            for v in r
        )

    root = str(tmp_path / f"wh{case}")
    _write_events(spark, root, SEED + case)
    for name in QUERIES:
        qd = CATALOG[name]
        got = sorted(canon(r) for r in query_rows(spark, qd, root))
        want = sorted(canon(r) for r in _duck_rows(root, qd.oracle))
        assert got == want, f"{name} diverged on seed {SEED + case}"
        assert got, f"{name} returned empty on a populated stream"
