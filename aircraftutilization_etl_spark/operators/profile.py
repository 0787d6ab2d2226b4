"""Single-pass column profiler — the dataset-card statistics operator.

``profile_columns`` computes per-column row count, null count, distinct
count, and min/max in ONE scan of the table: every column's aggregates
ride the same hash-aggregate, and the per-column rows are produced by
exploding an array of structs driver-side-free. The alternative — one
query per column — rescans the table |columns| times, which at 100 TB is
the difference between one pass and a day of passes.

Distinct counts use COUNT(DISTINCT ...), which Spark plans as an
Expand (row multiplication by |columns|) — correct, and what the DuckDB
oracle can replay, but the multiplication is a real cost at scale.
``audit_approx=True`` adds the HyperLogLog++ estimate
(``approx_count_distinct``) as a checked certificate beside the exact
count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


APPROX_DISTINCT_RSD = 0.05  # approx_count_distinct default


def profile_columns(
    df: DataFrame,
    cols: Sequence[str],
    audit_approx: bool = False,
) -> DataFrame:
    """One row per profiled column: (col_name, n_rows, n_nulls,
    n_distinct, min_value, max_value); min/max are computed in the
    column's native type and cast to string only at the edge (so numeric
    columns order numerically, not lexically).

    ``audit_approx=True`` additionally runs the HLL++ estimator and
    emits ``distinct_within_tol``: |approx − exact| ≤ 3·rsd·exact + 2.
    HLL++ registers are max-of-hashes, so the estimate is a
    deterministic function of the key SET (merge-order free) — the
    boolean is an engine-stable, oracle-checkable certificate of the
    sketch. The estimator runs in its OWN aggregation joined back on col_name:
    mixed exact+approx distinct in one agg sends the HLL buffer
    through the multi-distinct Expand plan — one register set per
    distinct VALUE group instead of one per profiled column."""
    if not cols:
        raise ValueError("profile_columns needs at least one column")

    def fields(c: str):
        return [
            F.lit(c).alias("col_name"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(c).isNull().cast("long")).alias("n_nulls"),
            F.count_distinct(F.col(c)).alias("n_distinct"),
            F.min(F.col(c)).cast("string").alias("min_value"),
            F.max(F.col(c)).cast("string").alias("max_value"),
        ]

    structs = [F.struct(*fields(c)) for c in cols]
    out = (
        df.agg(F.array(*structs).alias("p"))
        .select(F.explode("p").alias("p"))
        .select("p.*")
    )
    if not audit_approx:
        return out
    tol = 3 * APPROX_DISTINCT_RSD
    approx_structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.approx_count_distinct(c).alias("__approx"),
        )
        for c in cols
    ]
    approx = (
        df.agg(F.array(*approx_structs).alias("p"))
        .select(F.explode("p").alias("p"))
        .select("p.*")
    )
    return out.join(F.broadcast(approx), "col_name").select(
        "col_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_value",
        "max_value",
        (
            F.abs(F.col("__approx") - F.col("n_distinct"))
            <= tol * F.col("n_distinct") + 2
        ).alias("distinct_within_tol"),
    )


def constraint_audit(
    df: DataFrame, checks: Sequence[tuple[str, "F.Column"]]
) -> DataFrame:
    """Data-contract validation: one row per named check with its
    violation count, all computed in ONE scan — every check is a
    conditional sum riding a single hash-aggregate, the same
    one-pass discipline as profile_columns.

    ``checks`` is [(check_name, violation_predicate_column)]; a row
    violates a check when the predicate is TRUE. NULL predicates count
    as violations too (an unevaluable contract is a broken one) —
    callers who want NULL-tolerant rules must code the tolerance into
    the predicate.
    """
    if not checks:
        raise ValueError("constraint_audit needs at least one check")
    n_rows = F.count(F.lit(1)).cast("bigint").alias("n_rows")
    aggs = [
        F.sum(
            F.when(pred.isNull() | pred, F.lit(1)).otherwise(F.lit(0))
        ).cast("bigint").alias(name)
        for name, pred in checks
    ]
    wide = df.agg(n_rows, *aggs)
    # one wide row -> (check_name, n_violations, n_rows) via inline()
    pairs = F.array(
        *[
            F.struct(
                F.lit(name).alias("check_name"),
                F.col(name).alias("n_violations"),
            )
            for name, _ in checks
        ]
    )
    return wide.select(F.inline(pairs), "n_rows")


def fk_orphans(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Referential-integrity probe: child rows whose key has no parent
    (left anti join). Returns the orphan child rows; count it for the
    audit number, keep it for the quarantine write.

    Scale: one shuffle per side on the key (or zero if bucketed); the
    anti join keeps no parent payload, so the build side is key-only.
    """
    return child.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        on=child_key,
        how="left_anti",
    )


def pk_duplicates(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Primary-key uniqueness probe: one row per duplicated key with its
    multiplicity (n_rows > 1). One shuffle on the key columns with
    map-side combine."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def ks_drift(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov distance between the value
    distributions of two groups — the distribution-drift gate of a
    data pipeline (did today's feed stop looking like yesterday's?),
    nonparametric and sensitive anywhere in the CDF.

    Integer-exact formulation: with values as integer cents and group
    counts (n_a, n_b), the KS sup-distance is
    ``max_v |n_b·cumA(v) − n_a·cumB(v)| / (n_a·n_b)`` — a running sum
    of ONE signed integer measure per distinct value, so the statistic
    (reported in ppm) and its arg-max location replay exactly in SQL.

    Scale: one shuffle collapses the data to |distinct values| rows
    (map-side combined); the cumulative pass is the two-phase
    global_running_sum — range-repartitioned local cumsums + a
    partition-count-sized prefix offset — never a single-partition
    global window; the final reduce is a 1-row aggregate.
    """
    from .sampling import global_running_sum

    cents = F.round(F.col(value_col) * 100, 0).cast("bigint")
    two = df.filter(F.col(group_col).isin([group_a, group_b])).select(
        cents.alias("cents"),
        F.when(F.col(group_col) == group_a, 1).otherwise(0).alias("__ia"),
        F.when(F.col(group_col) == group_b, 1).otherwise(0).alias("__ib"),
    )
    per = two.groupBy("cents").agg(
        F.sum("__ia").alias("__ca"), F.sum("__ib").alias("__cb")
    )
    tot = per.agg(
        F.sum("__ca").cast("bigint").alias("__na"),
        F.sum("__cb").cast("bigint").alias("__nb"),
    )
    signed = per.crossJoin(F.broadcast(tot)).select(
        "cents",
        "__na",
        "__nb",
        (F.col("__nb") * F.col("__ca") - F.col("__na") * F.col("__cb"))
        .cast("bigint")
        .alias("__d"),
    )
    run = global_running_sum(signed, ["cents"], "__d", out_col="__cum")
    # single-pass reduce: min_by over (−|cum|, cents) picks the arg-max
    # location with ties to the smallest value — no second scan, no
    # global window
    return run.agg(
        F.max("__na").cast("bigint").alias("n_a"),
        F.max("__nb").cast("bigint").alias("n_b"),
        F.expr(
            "CAST(MAX(abs(__cum)) * 1000000 DIV (MAX(__na) * MAX(__nb))"
            " AS BIGINT)"
        ).alias("ks_ppm"),
        F.expr(
            "min_by(cents, struct(-abs(__cum), cents))"
        ).alias("ks_at_cents"),
    )
