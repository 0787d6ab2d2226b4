"""Scale-pattern queries (operators/scale.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import money
from ..operators.scale import salted_join
from .catalog import query, table


@query(
    "q_skew_salted_join",
    f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {money.sql_dollars(f"SUM({money.sql_cents('value')})", 1)}
               AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event rollup by customer segment through a SALTED join: the hot
    user ids (a few users own most events) are spread over 8 sub-keys,
    the customer dimension replicated once per salt.

    Result-identical to the plain join — exactly what the oracle checks.
    At 100 TB this is the fallback when one key exceeds what AQE's
    skew-split can rebalance; here it doubles as the correctness proof
    that salting preserves join semantics.
    """
    events = table(spark, sf_dir, "events").withColumnRenamed(
        "user_id", "c_custkey"
    )
    customer = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = salted_join(events, customer, on="c_custkey")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # r8 exact-cents: 5 table-scale segment groups
            # (functions/money.py; event values are 2-dp)
            money.dollars(money.sum128(money.cents("value")), 1).alias(
                "total_value"
            ),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q_bloom_prune_join",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST((SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(ROUND(l_discount * 100) AS BIGINT)))
                 + 50) // 100 AS BIGINT) / 100.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= DATE '1996-01-01'
      AND o_orderdate < DATE '1997-01-01'
    GROUP BY order_month
    ORDER BY order_month
    """,
)
def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-1996 revenue by month through a Bloom-PRUNED join: a
    128K-bit filter built from the ~3%-selective order subset prunes
    lineitem rows map-side before the join shuffle; the exact join then
    removes Bloom false positives, so the result is identical to the
    plain join — exactly what the oracle checks.

    r8 exact-cents revenue: per-row revenue summed as exact BIGINT
    tenth-mills (2-dp prices x integer percents), half-up integer
    divide to cents, one double division — ROUND(SUM(double),2) drifted
    by a cent on 1/12 groups at sf1 (SCALE.md). Positive-only sums, so
    a plain non-negative divide suffices.

    At 100 TB this is the lever for selective fact-to-fact joins where
    the build side exceeds broadcast size: the bit array (16 KB here)
    ships where a multi-GB hash relation cannot, and the probe side's
    shuffle shrinks by ~97%. (Spark's own runtime bloom filter
    optimization targets the same shape; this operator makes it
    explicit, deterministic and available regardless of planner
    heuristics.)
    """
    from ..operators.scale import bloom_prune_join

    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    )
    lineitem = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = bloom_prune_join(lineitem, orders, on="l_orderkey")
    return (
        joined.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(money.revenue_tm()).alias("rev_tm"),
        )
        .select(
            "order_month",
            "n_items",
            (F.expr("(rev_tm + 50) DIV 100") / 100.0).alias("revenue"),
        )
        .orderBy("order_month")
    )


SKEW_HEAVY_FACTOR = 2  # a key is "heavy" above 2x the mean group size


@query(
    "q_skew_report",
    f"""
    WITH g AS (
        SELECT l_orderkey AS key, COUNT(*) AS n
        FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
        SELECT COUNT(*) AS n_keys, SUM(n) AS n_rows, MAX(n) AS max_n
        FROM g
    )
    SELECT CAST(s.n_keys AS BIGINT) AS n_keys,
           CAST(s.n_rows AS BIGINT) AS n_rows,
           CAST(s.max_n AS BIGINT) AS max_group,
           CAST(s.n_rows * 1000000 // s.n_keys AS BIGINT) AS mean_group_ppm,
           CAST(s.max_n * s.n_keys * 1000000 // s.n_rows AS BIGINT)
               AS skew_factor_ppm,
           CAST((SELECT COUNT(*) FROM g, stats st
                 WHERE g.n * st.n_keys > {SKEW_HEAVY_FACTOR} * st.n_rows)
                AS BIGINT) AS heavy_keys,
           CAST((SELECT COALESCE(SUM(n), 0) FROM g, stats st
                 WHERE g.n * st.n_keys > {SKEW_HEAVY_FACTOR} * st.n_rows)
                * 1000000 // s.n_rows AS BIGINT) AS heavy_rows_ppm
    FROM stats s
    """,
)
def q_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle skew diagnosis for the lineitem orderkey: group
    count, largest group, integer skew factor (max/mean), and how many
    keys (and what row share) sit above 2x the mean — the numbers that
    decide between a plain shuffle, AQE skew splitting, and salting
    (operators/scale.salted_join) BEFORE paying for the wrong plan.

    All ratios are integer ppm (cross-multiplied comparisons, no float
    thresholds). Scale: one keyed aggregate with map-side combine, then
    scalar reductions over the |keys|-sized frame; the heavy-key probes
    broadcast the 3-value stats row.
    """
    li = table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_orderkey").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    stats = g.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
    )
    heavy = (
        g.crossJoin(F.broadcast(stats))
        .filter(F.expr(f"n * n_keys > {SKEW_HEAVY_FACTOR} * n_rows"))
        .agg(
            F.count(F.lit(1)).alias("hk"),
            F.coalesce(F.sum("n"), F.lit(0)).alias("hr"),
        )
    )
    return (
        stats.crossJoin(F.broadcast(heavy))
        .select(
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("max_n").cast("bigint").alias("max_group"),
            F.expr("n_rows * 1000000 DIV n_keys").alias("mean_group_ppm"),
            F.expr("max_n * n_keys * 1000000 DIV n_rows").alias(
                "skew_factor_ppm"
            ),
            F.col("hk").cast("bigint").alias("heavy_keys"),
            F.expr("hr * 1000000 DIV n_rows").alias("heavy_rows_ppm"),
        )
    )
