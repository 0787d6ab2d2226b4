"""Randomized cross-engine exactness for functions/money.py.

test_money.py pins hand-computed literals and anchors converted oracles
to naive-double twins; this file adds randomized BREADTH over the same
blind spot (the oracle hash gate cannot see a two-sided bug in a shared
helper). Ground truth is constructed integer-first: cents/percent are
drawn as integers, the doubles handed to the helpers are derived from
them, so the expected value is known exactly with no float reasoning.

Three layers:
1. hypothesis over the DuckDB SQL fragments (no SparkSession — cheap
   enough for hundreds of examples, including half-cent boundaries and
   negative sums already in cents);
2. one seeded 20k-row Spark job comparing cents/pct/revenue/charge and
   the dollars(sum128(...)) edge against Python integer arithmetic AND
   the DuckDB twins on the same rows;
3. sum128 split-sum identity on signed units across the documented
   per-row envelope.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from aircraftutilization_etl_spark.functions import money

SEED = 0xA1C8


def _expected_cents_out(s: int, unit_scale: int) -> int:
    """Integer half-up to cents of a non-negative sum — the contract
    BOTH sql_dollars and dollars() implement."""
    if unit_scale == 1:
        return s
    return (s + unit_scale // 2) // unit_scale


# --- 1. hypothesis over the DuckDB fragments --------------------------------


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


unit_sums = st.one_of(
    st.integers(min_value=0, max_value=10**15),
    # exact half-boundary neighborhoods for every scale in use
    st.builds(
        lambda k, u, d: k * u + u // 2 + d,
        st.integers(min_value=0, max_value=10**9),
        st.sampled_from([100, 10000]),
        st.integers(min_value=-1, max_value=1),
    ),
)


@given(st.integers(min_value=-(10**15), max_value=10**15))
@settings(max_examples=150, deadline=None)
def test_sql_dollars_signed_matches_integer_contract(s):
    """A sum already in cents needs no rounding, so it keeps its sign:
    the edge is the exact integer over 100, negative sums included."""
    con = duckdb.connect()
    got = con.sql(
        f"SELECT {money.sql_dollars('SUM(s)', 1)} AS d"
        f" FROM (VALUES (CAST({s} AS BIGINT))) t(s)"
    ).fetchone()[0]
    assert got == _expected_cents_out(s, 1) / 100.0


@given(unit_sums, st.sampled_from([1, 100, 10000]))
@settings(max_examples=150, deadline=None)
def test_sql_dollars_unsigned_matches_integer_contract(s, unit_scale):
    con = duckdb.connect()
    got = con.sql(
        f"SELECT {money.sql_dollars('SUM(s)', unit_scale)} AS d"
        f" FROM (VALUES (CAST({s} AS BIGINT))) t(s)"
    ).fetchone()[0]
    assert got == _expected_cents_out(s, unit_scale) / 100.0


@given(
    st.integers(min_value=-(10**11), max_value=10**11),  # cents
    st.integers(min_value=0, max_value=100),  # whole-percent discount
    st.integers(min_value=0, max_value=100),  # whole-percent tax
)
@settings(max_examples=150, deadline=None)
def test_sql_unit_fragments_recover_constructed_integers(c, d, t):
    """The doubles are DERIVED from integers, so each fragment must
    recover the construction exactly — any drift is a helper bug."""
    con = duckdb.connect()
    row = con.sql(
        f"""SELECT {money.sql_cents('p')} AS cents,
                   {money.SQL_REVENUE_TM} AS rev_tm,
                   {money.SQL_DISCOUNT_TM} AS disc_tm,
                   {money.SQL_CHARGE_MICROS} AS charge_u
            FROM (SELECT {c} / 100.0 AS p,
                         {c} / 100.0 AS l_extendedprice,
                         {d} / 100.0 AS l_discount,
                         {t} / 100.0 AS l_tax) x"""
    ).fetchone()
    assert row == (c, c * (100 - d), c * d, c * (100 - d) * (100 + t))


# --- 2. seeded batch corpus: Spark vs DuckDB vs integer truth ---------------


@pytest.fixture(scope="module")
def corpus():
    """(cents, disc_pct, tax_pct) int arrays with adversarial structure:
    uniform magnitudes, half-cent-adjacent cents (…49/50/51), zeros,
    negatives, and the largest in-domain prices."""
    rng = np.random.default_rng(SEED)
    n = 20_000
    c = rng.integers(-(10**9), 10**9, size=n)
    # half-boundary band: cents ending in 49/50/51 stress the tenth-mill
    # and micro half-offsets after multiplication by percents
    band = rng.integers(-(10**7), 10**7, size=n // 4) * 100
    c[: n // 4] = band + rng.choice([49, 50, 51], size=n // 4)
    c[n // 4] = 0
    c[n // 4 + 1] = 10**13  # $100bn line item — far above any real row
    c[n // 4 + 2] = -(10**13)
    d = rng.integers(0, 11, size=n)  # TPC-H discounts are 0-10%
    t = rng.integers(0, 9, size=n)  # taxes 0-8%
    return c, d, t


def test_spark_helpers_recover_integers_and_sum_edge(spark, corpus):
    import pandas as pd
    from pyspark.sql import functions as F

    c, d, t = corpus
    pdf = pd.DataFrame(
        {
            "l_extendedprice": c / 100.0,
            "l_discount": d / 100.0,
            "l_tax": t / 100.0,
        }
    )
    df = spark.createDataFrame(pdf)

    # per-row extraction: every helper must reproduce the constructing
    # integers on all 20k rows (count the disagreements Spark-side —
    # no driver materialization of the corpus)
    checked = df.select(
        (money.cents("l_extendedprice") == F.lit(0)).alias("_"),
        money.cents("l_extendedprice").alias("g_c"),
        money.pct("l_discount").alias("g_d"),
        money.pct("l_tax").alias("g_t"),
        money.revenue_tm().alias("g_rev"),
        money.discount_tm().alias("g_disc"),
        money.charge_micros().alias("g_chg"),
    ).toPandas()
    assert (checked["g_c"].to_numpy() == c).all()
    assert (checked["g_d"].to_numpy() == d).all()
    assert (checked["g_t"].to_numpy() == t).all()
    rev = c * (100 - d)
    assert (checked["g_rev"].to_numpy() == rev).all()
    assert (checked["g_disc"].to_numpy() == c * d).all()
    assert (checked["g_chg"].to_numpy() == rev * (100 + t)).all()

    # aggregate edge: dollars(sum128(...)) over the corpus's
    # non-negative prices (the output contract covers non-negative sums)
    # vs the exact Python integer sum pushed through the same contract
    got = df.filter(F.col("l_extendedprice") >= 0).agg(
        money.dollars(money.sum128(money.revenue_tm()), 100).alias("rev_d"),
        money.dollars(money.sum128(money.charge_micros()), 10000).alias(
            "chg_d"
        ),
    ).first()
    kept = c >= 0
    s_rev = int(rev[kept].sum())
    s_chg = int((rev * (100 + t))[kept].sum())
    assert got["rev_d"] == _expected_cents_out(s_rev, 100) / 100.0
    assert got["chg_d"] == _expected_cents_out(s_chg, 10000) / 100.0

    # DuckDB twins on the identical rows — the cross-engine leg of the
    # same corpus (hash-gate parity plus value-anchored truth)
    con = duckdb.connect()
    con.register("corpus", pdf)
    duck = con.sql(
        f"""SELECT {money.sql_dollars('SUM(' + money.SQL_REVENUE_TM + ')',
                                      100)} AS rev_d,
                   {money.sql_dollars('SUM(' + money.SQL_CHARGE_MICROS + ')',
                                      10000)} AS chg_d
            FROM corpus WHERE l_extendedprice >= 0"""
    ).fetchone()
    assert duck[0] == got["rev_d"]
    assert duck[1] == got["chg_d"]


def test_spark_dollars_rowwise_random_sums(spark):
    """dollars() applied per-row to random unit sums (including exact
    half boundaries) against the integer contract, all scales."""
    import pandas as pd

    rng = np.random.default_rng(SEED + 1)
    s = rng.integers(0, 10**15, size=4000)
    halves = rng.integers(0, 10**9, size=2000)
    s = np.concatenate(
        [
            s,
            halves * 100 + 50,
            halves * 10000 + 5000,
            np.array([0, 49, 50, 4999, 5000, 10**15]),
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"s": s}))
    for scale in (1, 100, 10000):
        got = (
            df.select(money.dollars(df.s, scale).alias("d"))
            .toPandas()["d"]
            .to_numpy()
        )
        exp = np.array(
            [_expected_cents_out(int(v), scale) / 100.0 for v in s]
        )
        assert (got == exp).all(), f"unit_scale={scale}"


# --- 3. sum128 split-sum identity -------------------------------------------


def test_sum128_identity_on_signed_units(spark):
    """The hi/lo split sum must equal the plain integer sum for signed
    units across the documented per-row envelope (|u| ≤ ~1e12, well
    inside the 2^53 floor-exactness bound), including the lo ∈ [0, 1e6)
    invariant for negative units (floor, not trunc, defines hi)."""
    import pandas as pd

    rng = np.random.default_rng(SEED + 2)
    u = rng.integers(-(10**12), 10**12, size=10_000)
    u = np.concatenate(
        [u, np.array([0, 1, -1, 999_999, -999_999, 10**12, -(10**12)])]
    )
    df = spark.createDataFrame(pd.DataFrame({"u": u}))
    got = df.agg(money.sum128(df.u).alias("s")).first()["s"]
    assert int(got) == int(u.sum())

    # grouped: per-group identity under Spark's partial/merge aggregation
    pdf = pd.DataFrame({"u": u, "g": np.arange(len(u)) % 7})
    df2 = spark.createDataFrame(pdf).repartition(13)
    rows = df2.groupBy("g").agg(money.sum128(df2.u).alias("s")).collect()
    exp = pdf.groupby("g")["u"].sum()
    for r in rows:
        assert int(r["s"]) == int(exp[r["g"]])
