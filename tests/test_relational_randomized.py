"""Randomized cross-engine exactness for the relational/TPC-H surface.

The dimension tables (region, nation, part) are reused verbatim from
the driver testdata — their vocabularies anchor the queries' literal
filters — while customer, supplier, orders, and lineitem are seeded
random with planted skew: a mega-customer owning ~15% of all orders
(heavy-hitter support boundary), orderless customers (anti-join side),
negative account balances, and money columns drawn as exact integer
cents / 100 so the integer-cents money layer is exercised on price
material the gate never sees.
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0x7C9A
SRC = "/root/testdata/sf0.001"
DIMS = ("region", "nation", "part")
QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_semi_join_active_customers",
    "q_anti_join_orderless_customers",
    "q_rollup_revenue",
    "q_top_customers_per_nation",
    "q_heavy_hitters_customers",
    "q10_returned_items",
    "q4_order_priority",
    # exact-rank statistics and sketch certificates on random money
    # material — percentile/bucket boundaries the fixed data never hits
    "q_percentiles_quantity",
    "q_histogram_price",
    "q_approx_distinct_orders",
    # integer-moment statistics on random cents material: Tukey/MAD
    # fences, CORR/REGR_* moments, exact Gini cumsum
    "q_outlier_iqr",
    "q_outlier_mad",
    "q_stats_regression",
    "q_revenue_gini",
)

SEGMENTS = ["MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE", "AUTOMOBILE"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write_tables(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    for t in DIMS:
        spark.read.parquet(f"{SRC}/{t}.parquet").coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{root}/{t}.parquet")

    n_cust, n_supp, n_part = 300, 80, 500
    cust = [
        (
            k,
            f"Customer#{k:09d}",
            rng.randrange(25),
            rng.randint(-99999, 999999) / 100.0,
            rng.choice(SEGMENTS),
        )
        for k in range(1, n_cust + 1)
    ]
    spark.createDataFrame(
        cust,
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/customer.parquet")

    supp = [
        (
            k,
            f"Supplier#{k:09d}",
            rng.randrange(25),
            rng.randint(-99999, 999999) / 100.0,
        )
        for k in range(1, n_supp + 1)
    ]
    spark.createDataFrame(
        supp,
        "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/supplier.parquet")

    base = dt.datetime(1995, 1, 1)
    orders, lineitem = [], []
    lkey = 0
    for okey in range(1, 1201):
        # mega-customer 1 owns ~15% of orders; ~10% of customers stay
        # orderless for the anti-join side
        cust_k = 1 if rng.random() < 0.15 else rng.randint(
            1, int(n_cust * 0.9)
        )
        odate = base + dt.timedelta(days=rng.randint(0, 2500))
        orders.append(
            (
                okey,
                cust_k,
                rng.choice(["O", "F", "P"]),
                rng.randint(1000, 40000000) / 100.0,
                odate,
                rng.choice(PRIOS),
            )
        )
        for ln in range(1, rng.randint(1, 5) + 1):
            lkey += 1
            lineitem.append(
                (
                    okey,
                    rng.randint(0, n_part - 1),
                    rng.randint(1, n_supp),
                    ln,
                    float(rng.randint(1, 50)),
                    rng.randint(90000, 10000000) / 100.0,
                    rng.randint(0, 10) / 100.0,
                    rng.randint(0, 8) / 100.0,
                    rng.choice(["A", "N", "R"]),
                    rng.choice(["F", "O"]),
                    odate + dt.timedelta(days=rng.randint(1, 120)),
                )
            )
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/orders.parquet")
    spark.createDataFrame(
        lineitem,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, "
        "l_linenumber int, l_quantity double, l_extendedprice double, "
        "l_discount double, l_tax double, l_returnflag string, "
        "l_linestatus string, l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/lineitem.parquet")


def _duck_rows(root: str, sql: str):
    con = duckdb.connect()
    try:
        for t in (*DIMS, "customer", "supplier", "orders", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"parquet_scan('{root}/{t}.parquet/*.parquet')"
            )
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _canon(r):
    return tuple(
        "NULL" if v is None
        else repr(round(v, 9)) if isinstance(v, float)
        else format(v, "f") if type(v).__name__ == "Decimal"
        else str(v)
        for v in r
    )


@pytest.mark.parametrize("case", range(2))
def test_relational_surface_matches_duckdb_on_random_facts(
    spark, tmp_path, case
):
    root = str(tmp_path / f"rel{case}")
    _write_tables(spark, root, SEED + case)
    for name in QUERIES:
        qd = CATALOG[name]
        got = sorted(_canon(r) for r in query_rows(spark, qd, root))
        want = sorted(_canon(r) for r in _duck_rows(root, qd.oracle))
        assert got == want, f"{name} diverged on seed {SEED + case}"
        assert got, f"{name} returned empty on a populated warehouse"
