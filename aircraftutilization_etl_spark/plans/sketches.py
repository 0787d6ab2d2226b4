"""Approximate sketch aggregates — the 100 TB answer to exact DISTINCT.

Exact COUNT(DISTINCT) is the next per-group memory hazard after exact
percentiles: every group buffers its full key set through the shuffle.
Sketches replace that with fixed-size mergeable state:

- ``approx_count_distinct`` (HyperLogLog++, rsd-tunable) — one-shot
  estimates inside a normal aggregation.
- ``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate``
  (Apache DataSketches HLL) — sketches as *values*: build once at fine
  grain, re-aggregate to any coarser rollup WITHOUT rescanning the
  facts. That re-aggregability is the property a 100 TB pipeline needs
  (daily sketches persisted, monthly/yearly rollups from sketch unions).

Since r5 every query here is HASH-CHECKED: raw sketch estimates are
implementation-defined (never hashed), but each query emits the exact
statistic plus a ``within_tol`` certificate that the sketch landed
inside its documented error bound — HLL registers are max-of-hashes
(deterministic in the key set, merge-order free), so the booleans are
engine-stable and the DuckDB oracle replays them as exact values + TRUE.
Partial-aggregation plan shape is pinned by tests/test_plans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localrel import inline_values_df
from ..operators.distribute import MODEL_CACHE, cache
from .catalog import query, table


@query(
    "q_approx_distinct_orders",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS orders_within_tol,
           TRUE AS parts_within_tol
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_approx_distinct_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counting per return flag, made hash-checkable
    (VERDICT r4): the exact distinct counts plus ``within_tol``
    certificates that the HLL++ estimates (rsd=0.01) land within 3·rsd
    of exact. HLL++ registers are max-of-hashes — a deterministic
    function of the key SET, independent of partitioning and merge
    order — so the booleans are engine-stable and DuckDB replays the
    row as exact counts + TRUE.

    Scale: the CERTIFICATE runs both estimators (the exact side plans
    an Expand — audit cost, run at validation time); the production
    rollup keeps only approx_count_distinct: a ~kilobyte register
    array per group through the shuffle instead of the full key set,
    partial aggregation map-side, constant memory per group.

    The two estimators aggregate SEPARATELY and join on the 3-row
    group key: mixing count_distinct and approx_count_distinct in one
    agg makes Catalyst route the HLL buffer through the multi-distinct
    Expand plan — one ~3k-register state per DISTINCT KEY group
    instead of per output group (measured 78 s vs 2 s at sf0.1).
    """
    li = table(spark, sf_dir, "lineitem")
    tol = 0.03  # 3 × rsd
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").cast("bigint").alias("exact_orders"),
        F.count_distinct("l_partkey").cast("bigint").alias("exact_parts"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("__ao"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("__ap"),
    )

    def cert(a, e):
        return F.abs(F.col(a) - F.col(e)) <= tol * F.col(e) + 2

    return (
        exact.join(F.broadcast(approx), "l_returnflag")
        .select(
            "l_returnflag",
            "exact_orders",
            "exact_parts",
            "n_rows",
            cert("__ao", "exact_orders").alias("orders_within_tol"),
            cert("__ap", "exact_parts").alias("parts_within_tol"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_sketch_reaggregation",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           CAST(COUNT(DISTINCT o_orderdate) AS BIGINT) AS n_days,
           TRUE AS union_within_tol
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_year, order_month
    """,
)
def q_sketch_reaggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL built daily, UNIONED to months — made
    hash-checkable (VERDICT r4): the monthly roll emits the exact
    distinct-customer count plus a ``union_within_tol`` certificate
    that the estimate coming out of the daily-sketch UNION path lands
    within 5% (3σ at lgK=12's ~1.6% rsd) of exact. The sketch value is
    a deterministic function of the key set (register maxima), so the
    boolean is engine-stable; DuckDB replays exact counts + TRUE.

    The two-level shape still proves mergeability: the monthly estimate
    comes from ``hll_union_agg`` over daily sketch binaries — the fact
    table is scanned once at the fine grain. At 100 TB the daily sketch
    table is what you persist; every coarser rollup (month, year,
    region×month, …) is a cheap union over kilobyte blobs, and the
    exact side of this certificate is the audit you run at validation
    time, not per-rollup.
    """
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.to_date("o_orderdate").alias("order_day")
    ).agg(F.hll_sketch_agg("o_custkey").alias("cust_sketch"))
    monthly = (
        daily.groupBy(
            F.year("order_day").cast("int").alias("order_year"),
            F.month("order_day").cast("int").alias("order_month"),
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_union_agg("cust_sketch")
            ).alias("__approx"),
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
        )
    )
    exact = o.groupBy(
        F.year(F.to_date("o_orderdate")).cast("int").alias("order_year"),
        F.month(F.to_date("o_orderdate")).cast("int").alias("order_month"),
    ).agg(F.count_distinct("o_custkey").cast("bigint").alias("exact_customers"))
    return (
        monthly.join(exact, ["order_year", "order_month"])
        .select(
            "order_year",
            "order_month",
            "exact_customers",
            "n_days",
            (
                F.abs(F.col("__approx") - F.col("exact_customers"))
                <= 0.05 * F.col("exact_customers") + 2
            ).alias("union_within_tol"),
        )
        .orderBy("order_year", "order_month")
    )


@query(
    "q_sketch_overlap",
    """
    WITH pairs(type_a, type_b) AS (
        VALUES ('click', 'purchase'), ('view', 'signup'),
               ('click', 'error')
    ),
    nd AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS nd
        FROM events GROUP BY 1
    ),
    inter AS (
        SELECT p.type_a, p.type_b,
               (SELECT COUNT(*) FROM
                    (SELECT DISTINCT user_id FROM events
                     WHERE event_type = p.type_a
                     INTERSECT
                     SELECT DISTINCT user_id FROM events
                     WHERE event_type = p.type_b))
                   AS exact_intersection
        FROM pairs p
    )
    SELECT i.type_a, i.type_b,
           CAST(na.nd + nb.nd AS BIGINT) AS sum_exact_distinct,
           CAST(i.exact_intersection AS BIGINT) AS exact_intersection,
           TRUE AS overlap_within_tol
    FROM inter i
      JOIN nd na ON na.event_type = i.type_a
      JOIN nd nb ON nb.event_type = i.type_b
    ORDER BY i.type_a, i.type_b
    """,
)
def q_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-audience OVERLAP between event types from HLL algebra,
    made hash-checkable (VERDICT r4): |A ∩ B| ≈ |A| + |B| − |A ∪ B|,
    the union estimated by the scalar ``hll_union`` of the two per-type
    sketches — inclusion–exclusion entirely in sketch space — reported
    as the exact intersection plus an ``overlap_within_tol``
    certificate that the sketch-space estimate lands within
    5%·(|A|+|B|) + 10 of exact. Sketch estimates are deterministic
    functions of the key sets, so the boolean is engine-stable; DuckDB
    replays exact set algebra + TRUE.

    The question ("how many users do these two segments share?") is the
    classic two-sided distinct problem that exact COUNT(DISTINCT)
    answers only by re-shuffling both key sets per pair; with persisted
    per-segment sketches every pairwise overlap is a kilobyte-blob
    union. The exact side here is the audit, run at validation time.
    """
    e = table(spark, sf_dir, "events")
    pairs = [("click", "purchase"), ("view", "signup"), ("click", "error")]
    sketches = cache(
        e.groupBy("event_type").agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("nd"),
        ),
        MODEL_CACHE,
    )
    # One broadcast join per side, INNER like the oracle's JOIN nd — a
    # pair whose type is absent from the data yields no row on either
    # engine (the sketch table is type-cardinality-sized, so both joins
    # broadcast; no per-pair jobs).
    out = (
        inline_values_df(spark, pairs, "type_a string, type_b string")
        .join(
            F.broadcast(
                sketches.select(
                    F.col("event_type").alias("type_a"),
                    F.col("sk").alias("sk_a"),
                    F.col("nd").alias("nd_a"),
                )
            ),
            "type_a",
        )
        .join(
            F.broadcast(
                sketches.select(
                    F.col("event_type").alias("type_b"),
                    F.col("sk").alias("sk_b"),
                    F.col("nd").alias("nd_b"),
                )
            ),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            (F.col("nd_a") + F.col("nd_b"))
            .cast("bigint")
            .alias("sum_exact_distinct"),
            (
                F.col("nd_a")
                + F.col("nd_b")
                - F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
            )
            .cast("bigint")
            .alias("approx_intersection"),
        )
    )
    exact = (
        e.select("event_type", "user_id")
        .distinct()
        .alias("x")
        .join(
            e.select(
                F.col("event_type").alias("type_b"), "user_id"
            ).distinct().alias("y"),
            "user_id",
        )
        .groupBy(F.col("x.event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    # Left + coalesce-to-0: a pair with NO shared users has no row in
    # the inner-join-derived exact table, but the oracle's scalar
    # INTERSECT subquery still returns 0 — both engines must emit 0.
    return (
        out.join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "sum_exact_distinct",
            F.coalesce(F.col("exact_intersection"), F.lit(0))
            .cast("bigint")
            .alias("exact_intersection"),
            (
                F.abs(
                    F.col("approx_intersection")
                    - F.coalesce(F.col("exact_intersection"), F.lit(0))
                )
                <= 0.05 * F.col("sum_exact_distinct") + 10
            ).alias("overlap_within_tol"),
        )
        .orderBy("type_a", "type_b")
    )
