"""Single-pass column profiler: correctness, sketch accuracy, plan shape."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.profile import profile_columns


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (1, 10.5, None),
        (2, 10.5, "x"),
        (2, None, "y"),
        (9, 2.0, "y"),
    ]
    return spark.createDataFrame(rows, "k long, v double, s string")


def test_exact_profile_values(df):
    got = {r["col_name"]: r.asDict() for r in profile_columns(
        df, ["k", "v", "s"]).collect()}
    assert got["k"] == {
        "col_name": "k", "n_rows": 4, "n_nulls": 0, "n_distinct": 3,
        "min_value": "1", "max_value": "9",
    }
    assert got["v"]["n_nulls"] == 1
    assert got["v"]["n_distinct"] == 2  # nulls don't count as a value
    # native-type ordering: 2.0 < 10.5 numerically (lexical would flip)
    assert got["v"]["min_value"] == "2.0"
    assert got["v"]["max_value"] == "10.5"
    assert got["s"] == {
        "col_name": "s", "n_rows": 4, "n_nulls": 1, "n_distinct": 2,
        "min_value": "x", "max_value": "y",
    }


def test_approx_profile_matches_exact_on_small_cardinality(df):
    exact = {r["col_name"]: r["n_distinct"] for r in profile_columns(
        df, ["k", "v", "s"]).collect()}
    audited = profile_columns(df, ["k", "v", "s"], audit_approx=True).collect()
    # the audit keeps the exact counts, and HLL++ is exact in the sparse
    # regime, so every certificate holds
    assert {r["col_name"]: r["n_distinct"] for r in audited} == exact
    assert all(r["distinct_within_tol"] for r in audited)


def test_exact_expands_and_approx_does_not(df):
    """The exact distinct counts plan an Expand; the audit's HLL++
    estimate runs in its own aggregation, outside that Expand."""
    plan_exact = (
        profile_columns(df, ["k", "v"])._jdf.queryExecution()
        .executedPlan().toString()
    )
    plan_audit = (
        profile_columns(df, ["k", "v"], audit_approx=True)._jdf
        .queryExecution().executedPlan().toString()
    )
    assert "Expand" in plan_exact
    # the estimate is the broadcast side of the join back on col_name
    approx_leg = plan_audit.split("BroadcastExchange", 1)[1]
    assert "approx_count_distinct" in approx_leg
    assert "Expand" not in approx_leg
    assert plan_audit.count("Expand") == plan_exact.count("Expand")


def test_single_scan(df, spark):
    """The whole profile is one pass: exactly one scan of the source,
    whose rows the Expand multiplies for the distinct counts."""
    plan = (
        profile_columns(df, ["k", "v", "s"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in plan
    assert plan.count("Scan ExistingRDD") + plan.count("LocalTableScan") == 1


def test_empty_cols_rejected(df):
    with pytest.raises(ValueError):
        profile_columns(df, [])


class TestConstraintAudit:
    def test_counts_and_null_violations(self, spark):
        from aircraftutilization_etl_spark.operators.profile import (
            constraint_audit,
        )

        df = spark.createDataFrame(
            [(1, 5.0), (2, -1.0), (3, None), (4, 60.0)],
            "id long, qty double",
        )
        out = {
            r.check_name: (r.n_violations, r.n_rows)
            for r in constraint_audit(
                df,
                [
                    ("qty_range", (F.col("qty") < 0) | (F.col("qty") > 50)),
                    ("qty_not_null", F.col("qty").isNull()),
                ],
            ).collect()
        }
        # NULL predicate counts as a violation for qty_range too
        assert out == {"qty_range": (3, 4), "qty_not_null": (1, 4)}

    def test_requires_checks(self, spark):
        import pytest as _pytest

        from aircraftutilization_etl_spark.operators.profile import (
            constraint_audit,
        )

        with _pytest.raises(ValueError):
            constraint_audit(spark.range(1), [])

    def test_fk_orphans_and_pk_duplicates(self, spark):
        from aircraftutilization_etl_spark.operators.profile import (
            fk_orphans,
            pk_duplicates,
        )

        child = spark.createDataFrame(
            [(1, 10), (2, 10), (2, 10), (3, 99)], "k long, fk long"
        )
        parent = spark.createDataFrame([(10,), (20,)], "pk long")
        orphans = fk_orphans(child, parent, "fk", "pk").collect()
        assert {r.k for r in orphans} == {3}
        dups = pk_duplicates(child, ["k", "fk"]).collect()
        assert [(r.k, r.fk, r.n_rows) for r in dups] == [(2, 10, 2)]
