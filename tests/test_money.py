"""functions/money.py — exact-integer money arithmetic.

The oracle hash gate is structurally BLIND to a bug in this module:
Spark and DuckDB share the same formulas, so a two-sided error (the
r8 code-review's 100x-scaling find: dollars() divided by unit_scale*100
instead of unit_scale) stays hash-green while every converted query
emits wrong values. These tests close that hole two ways:

1. literal-value pins — known inputs through every helper, on BOTH
   engines, asserted against hand-computed dollars;
2. naive-double anchors — representative converted ORACLES re-run next
   to a plain ROUND(SUM(double),2) twin at sf0.001, every money value
   within one cent (the exact form differs from the naive form only by
   sub-cent rounding, never by scale).
"""

from __future__ import annotations

import os

import duckdb
import pytest

from aircraftutilization_etl_spark.functions import money

SF = "/root/testdata/sf0.001"


# --- 1. literal-value pins -------------------------------------------------


def test_sql_dollars_literal_values():
    con = duckdb.connect()
    # one $151.50 order in cents
    v = con.sql(
        f"SELECT {money.sql_dollars('SUM(c)', 1)} AS d"
        " FROM (VALUES (15150)) t(c)"
    ).fetchone()[0]
    assert v == 151.50
    # $1000.55 at 5% discount in tenth-mills: 100055 * 95 = 9505225 tm
    # -> 95052.25 cents -> half-up 95052 -> $950.52
    v = con.sql(
        f"SELECT {money.sql_dollars('SUM(tm)', 100)} AS d"
        " FROM (VALUES (9505225)) t(tm)"
    ).fetchone()[0]
    assert v == 950.52
    # micros: 123456789 micros = 12345.6789 cents -> half-up 12346 -> 123.46
    v = con.sql(
        f"SELECT {money.sql_dollars('SUM(u)', 10000)} AS d"
        " FROM (VALUES (123456789)) t(u)"
    ).fetchone()[0]
    assert v == 123.46


def test_sql_unit_fragments_literal_values():
    con = duckdb.connect()
    row = con.sql(
        f"""SELECT {money.sql_cents('p')} AS cents,
                   {money.SQL_REVENUE_TM} AS rev_tm,
                   {money.SQL_DISCOUNT_TM} AS disc_tm,
                   {money.SQL_CHARGE_MICROS} AS charge_u
            FROM (SELECT 151.50 AS p, 151.50 AS l_extendedprice,
                         0.05 AS l_discount, 0.08 AS l_tax) t"""
    ).fetchone()
    assert row == (15150, 15150 * 95, 15150 * 5, 15150 * 95 * 108)


def test_spark_dollars_matches_duckdb_literals(spark):
    df = spark.createDataFrame(
        [(151.50, 0.05, 0.08)],
        "l_extendedprice double, l_discount double, l_tax double",
    )
    got = df.agg(
        money.dollars(money.sum128(money.cents("l_extendedprice")), 1).alias(
            "cents_d"
        ),
        money.dollars(money.sum128(money.revenue_tm()), 100).alias("rev_d"),
        money.dollars(money.sum128(money.discount_tm()), 100).alias(
            "disc_d"
        ),
        money.dollars(
            money.sum128(money.charge_micros()), 10000
        ).alias("charge_d"),
    ).first()
    assert got["cents_d"] == 151.50
    # 15150*95 tm = 14392.50 cents -> half-up 14393 -> 143.93
    assert got["rev_d"] == 143.93
    # 15150*5 tm = 757.50 cents -> 758 -> 7.58
    assert got["disc_d"] == 7.58
    # 15150*95*108 micros = 15543.90 cents -> 15544 -> 155.44
    assert got["charge_d"] == 155.44
    # cents() sign-correctness: the trunc(x*100 + signum*0.5) fast path
    # must round away from zero for negative balances (plain +0.5 with
    # trunc would give -12344)
    row = spark.createDataFrame(
        [(-123.45, 0.0, 123.45)], "a double, b double, c double"
    ).select(
        money.cents("a").alias("a"),
        money.cents("b").alias("b"),
        money.cents("c").alias("c"),
    ).first()
    assert (row["a"], row["b"], row["c"]) == (-12345, 0, 12345)


# --- 2. naive-double anchors over real converted oracles --------------------

# (query money column, exact oracle fragment is in the catalog; the
# naive twin recomputes the same aggregate as ROUND(SUM(double), 2))
ANCHORS = [
    (
        "q5_local_supplier_volume",
        "revenue",
        """
        SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
               AS revenue
        FROM customer
          JOIN orders   ON c_custkey = o_custkey
          JOIN lineitem ON l_orderkey = o_orderkey
          JOIN supplier ON l_suppkey = s_suppkey
                        AND c_nationkey = s_nationkey
          JOIN nation   ON s_nationkey = n_nationkey
          JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
        GROUP BY n_name ORDER BY n_name
        """,
        "SELECT n_name, revenue FROM ({oracle}) q ORDER BY n_name",
    ),
    (
        "q1_pricing_summary",
        "sum_disc_price",
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)
                   AS sum_disc_price
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
        GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "SELECT l_returnflag, l_linestatus, sum_disc_price"
        " FROM ({oracle}) q ORDER BY 1, 2",
    ),
    (
        "q22_sales_opportunity",
        "totacctbal",
        None,  # naive twin below compares totals only
        None,
    ),
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        path = f"{SF}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def test_exact_oracles_anchor_to_naive_doubles(duck):
    """The exact-integer form may differ from ROUND(SUM(double),2) only
    by sub-cent rounding — never by scale. A two-sided formula bug
    (both engines sharing a wrong helper) fails here even though the
    cross-engine hash gate stays green."""
    from aircraftutilization_etl_spark.plans import CATALOG

    for name, col, naive_sql, exact_wrap in ANCHORS:
        if naive_sql is None:
            continue
        exact = duck.sql(
            exact_wrap.format(oracle=CATALOG[name].oracle)
        ).fetchall()
        naive = duck.sql(naive_sql).fetchall()
        assert len(exact) == len(naive), name
        for e_row, n_row in zip(exact, naive):
            assert e_row[:-1] == n_row[:-1], name
            assert abs(e_row[-1] - n_row[-1]) <= 0.011, (
                f"{name}.{col}: exact {e_row[-1]} vs naive {n_row[-1]}"
            )


def test_q22_anchor_totals(duck):
    """q22's exact form changes the avg-balance cut to a cross-multiplied
    integer comparison — the selected set must equal the naive one at
    this scale, and totals must match the naive sums to the cent."""
    from aircraftutilization_etl_spark.plans import CATALOG

    exact = duck.sql(CATALOG["q22_sales_opportunity"].oracle).fetchall()
    naive = duck.sql(
        """
        SELECT n_name AS cntry, CAST(COUNT(*) AS BIGINT) AS numcust,
               ROUND(SUM(c_acctbal), 2) AS totacctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer
                           WHERE c_acctbal > 0.0)
          AND n_name IN ('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7',
                         'NATION_9', 'NATION_11', 'NATION_13')
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderpriority = '1-URGENT')
        GROUP BY cntry ORDER BY cntry
        """
    ).fetchall()
    assert [r[:2] for r in exact] == [r[:2] for r in naive]
    for e_row, n_row in zip(exact, naive):
        assert abs(e_row[2] - n_row[2]) <= 0.011
