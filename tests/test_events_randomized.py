"""Randomized cross-engine exactness for the events analytics family.

The fixed testdata's timestamps rarely land EXACTLY on the 30-minute
session-gap boundary; these seeded streams quantize timestamps to
10-minute slots so exact-boundary gaps (ties at `> INTERVAL 30 MINUTE`
vs `>=`) occur constantly, and `value` is drawn as exact binary
quarters (k/4) so double sums are order-independent bit-for-bit on
both engines — the fuzz targets boundary semantics and grouping, not
IEEE summation noise.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0xE7E7
QUERIES = (
    "q_events_sessionize",
    "q_events_funnel",
    "q_events_hourly_window",
    "q_events_bounce_rate",
    "q_events_cooccurrence",
    # integer-moment inference statistics on exact-quarter values
    "q_events_welch",
    "q_drift_ks",
)


def _write_events(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    types = ["click", "error", "purchase", "signup", "view"]
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    for user in range(1, 41):
        t = base + dt.timedelta(minutes=10 * rng.randint(0, 100))
        for _ in range(rng.randint(5, 40)):
            # 10-minute steps: a 30-minute gap (exactly the boundary)
            # arises whenever the step is 3 slots
            t += dt.timedelta(minutes=10 * rng.randint(0, 7))
            rows.append(
                (
                    eid,
                    t,
                    user,
                    rng.choice(types),
                    rng.randint(0, 400) / 4.0,
                    "{}",
                )
            )
            eid += 1
    rng.shuffle(rows)  # storage order must not matter
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
def test_events_family_matches_duckdb_on_boundary_rich_streams(
    spark, tmp_path, case
):
    root = str(tmp_path / f"stream{case}")
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
        assert got == want, f"{name} diverged on stream seed {SEED + case}"
        assert got, f"{name} returned empty on a populated stream"
