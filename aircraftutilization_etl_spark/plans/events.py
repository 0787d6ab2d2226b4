"""Event-stream queries: sessionization, tumbling windows, JSON, as-of.

The reference's hand-rolled stateful stream (SURVEY.md §2.9) is, in batch
form, exactly these shapes: session assembly with a gap timeout, window
bucketing, and as-of ("most recent prior event") lookups. They run on the
synthetic ``events`` table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.events import range_join_bucketed, sessionize
from .catalog import query, table

SESSION_GAP_MINUTES = 30  # the F1 session-gap concept on the events table


@query(
    "q_events_sessionize",
    f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER w > INTERVAL {SESSION_GAP_MINUTES} MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(is_start) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM ordered
    )
    SELECT user_id,
           CAST(session_seq AS BIGINT) AS session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value,
           CAST(CEIL((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 60000000.0) AS BIGINT)
               AS duration_minutes
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization — the batch twin of the reference's
    20-minute inactivity session gap (F1, SURVEY.md §2.9), 30-min gap here.

    Scale: two windows over the same (user_id → ts) partitioning — one
    shuffle total, then a partial-aggregatable groupBy on the same key.
    The duration kernel is the U3 ceil-minutes shape.
    """
    e = table(spark, sf_dir, "events")
    numbered = sessionize(
        e.select("user_id", "ts", "event_id", "value"),
        key_col="user_id",
        ts_col="ts",
        gap_minutes=SESSION_GAP_MINUTES,
        order_cols=("event_id",),
    )
    return (
        numbered.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.ceil(
                (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
                / F.lit(60_000_000.0)
            )
            .cast("bigint")
            .alias("duration_minutes"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(
    "q_events_hourly_window",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) * 100 // COUNT(*)
                AS BIGINT) AS avg_value_e4
    FROM events
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def q_events_hourly_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time window aggregation — the batch form of
    the streaming `window(ts, '1 hour')` agg (SURVEY.md §2.9 notes the
    reference delegates this bucketing to Mongo's hours granularity).

    Monetary outputs use exact integer cents (values are 2-decimal):
    float SUM is association-order-dependent and ROUND tie-breaking
    differs between engines, so a rounded double AVG flips its last
    digit between Spark and the oracle at larger SFs. avg_value_e4 is
    the average in 1e-4 units via integer division — bit-exact on both.

    Scale: window start is a pure column function of ts → ordinary
    partial-aggregatable groupBy, no windowing machinery.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.groupBy(
            F.window("ts", "1 hour").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("total_cents"),
            F.expr(
                "CAST(sum(CAST(round(value * 100) AS BIGINT)) * 100"
                " div count(*) AS BIGINT)"
            ).alias("avg_value_e4"),
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "q_events_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) / 100.0
               AS total_value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY 1 ORDER BY k_mod
    """,
)
def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON shredding with JVM-side get_json_object (the reference shreds
    JSON in Python pre-tableification, S2 — here it stays columnar).

    r8 exact-cents total (functions/money.py): 10 table-scale buckets —
    values are 2-dp, so the centi-unit sum is drift-free."""
    from ..functions import money

    e = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        e.filter(k.isNotNull())
        .groupBy((k % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(money.cents("value")) / 100.0).alias("total_value"),
        )
        .orderBy("k_mod")
    )


@query(
    "q_events_asof_last_click",
    """
    WITH u AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN event_type = 'click' THEN ts END AS click_ts
        FROM events WHERE event_type IN ('click', 'error')
    ),
    enriched AS (
        SELECT *,
               LAST_VALUE(click_ts IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS last_click_ts
        FROM u
    )
    SELECT event_id, user_id, ts, last_click_ts,
           epoch_us(ts) - epoch_us(last_click_ts) AS gap_us
    FROM enriched WHERE event_type = 'error'
    ORDER BY event_id
    """,
)
def q_events_asof_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (most recent prior 'click' before each 'error', per
    user) via the union-and-last-value plan — Spark has no native as-of
    join (SURVEY.md §2.4 gap; guide: bucketize or merge_asof).

    Scale: this formulation is a single shuffle on user_id + one ordered
    window — strictly better than a per-row range probe; it never
    explodes pairs. The strictly-prior frame (1 PRECEDING) breaks ties
    deterministically via (ts, event_id) total order.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    u = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    enriched = u.withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return (
        enriched.filter(F.col("event_type") == "error")
        .select(
            "event_id",
            "user_id",
            "ts",
            "last_click_ts",
            (F.unix_micros("ts") - F.unix_micros("last_click_ts")).alias("gap_us"),
        )
        .orderBy("event_id")
    )


@query(
    "q_events_user_daily_pivot",
    """
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1 END), 0) AS BIGINT) AS clicks,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 END), 0) AS BIGINT) AS purchases,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1 END), 0) AS BIGINT) AS errors,
           ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN value END), 0.0), 2)
               AS purchase_value
    FROM events
    GROUP BY user_id, CAST(ts AS DATE)
    ORDER BY user_id, day
    """,
)
def q_events_user_daily_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily activity matrix (conditional aggregation pivot)."""
    e = table(spark, sf_dir, "events")

    def cnt(t):
        return F.coalesce(
            F.sum(F.when(F.col("event_type") == t, 1)), F.lit(0)
        ).cast("bigint")

    return (
        e.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            cnt("click").alias("clicks"),
            cnt("purchase").alias("purchases"),
            cnt("error").alias("errors"),
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
                    F.lit(0.0),
                ),
                2,
            ).alias("purchase_value"),
        )
        .orderBy("user_id", "day")
    )


@query(
    "q_events_range_join",
    """
    SELECT e.event_id AS error_id,
           CAST(COUNT(p.event_id) AS BIGINT) AS n_purchases,
           ROUND(COALESCE(SUM(p.value), 0.0), 2) AS purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'error') e
    LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id
     AND p.ts BETWEEN e.ts - INTERVAL 30 MINUTE
                  AND e.ts + INTERVAL 30 MINUTE
    GROUP BY e.event_id
    ORDER BY error_id
    """,
)
def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within ±30 minutes of each error event,
    per user — via the BUCKETED range join (equi-join on (user, time
    bucket) + exact window filter), not the nested-loop plan a bare
    inequality condition produces (SURVEY.md §2.4 gap: range join).

    The left join semantics (errors with no nearby purchase keep a zero
    row) come from re-joining the pair counts onto the error set.
    """
    e = table(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    pairs = range_join_bucketed(
        errors,
        purchases,
        on="user_id",
        window_seconds=30 * 60,
        left_ts="error_ts",
        right_ts="purchase_ts",
    )
    counts = pairs.groupBy("error_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.round(F.sum("value"), 2).alias("purchase_value"),
    )
    return (
        errors.select("error_id")
        .join(counts, "error_id", "left")
        .select(
            "error_id",
            F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
            F.coalesce("purchase_value", F.lit(0.0)).alias("purchase_value"),
        )
        .orderBy("error_id")
    )


@query(
    "q_events_cooccurrence",
    """
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS item_a, b.event_type AS item_b,
           CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM d a
    JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
    ORDER BY item_a, item_b
    """,
)
def q_events_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence: for each unordered pair of event types,
    how many users exhibit both — the recsys/feature-mining primitive.

    Scale (operators/events.py cooccurrence_pairs): dedupe to
    (user, type) BEFORE the self-join, bounding per-user fanout at the
    type vocabulary instead of the event count; both join sides are the
    same deduped plan, so the physical plan reuses one Exchange.
    """
    from ..operators.events import cooccurrence_pairs

    ev = table(spark, sf_dir, "events")
    return (
        cooccurrence_pairs(ev, key="user_id", item="event_type")
        .orderBy("item_a", "item_b")
    )


@query(
    "q_events_session_window",
    f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER w
                        >= INTERVAL {SESSION_GAP_MINUTES} MINUTE
                         OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT *, SUM(is_start) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS session_seq
        FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {SESSION_GAP_MINUTES} MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
)
def q_events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN ``session_window`` — the
    same 30-minute-gap sessions as q_events_sessionize, computed by the
    native operator instead of the lag/cumsum formulation, with one
    boundary difference this query pins down: session_window merges on
    STRICT "next < last + gap", so a spacing of exactly the gap starts
    a new session (the lag twin's ``>`` keeps it). The oracle replays
    the built-in's semantics (``>=`` split) over the relational
    formulation — a hash match cross-validates Spark's native operator
    against the portable SQL definition, boundary included.

    Scale: one shuffle on user_id; the native operator merges windows
    inside the aggregation (no second window pass), and the same call
    shape runs on a watermarked stream — the batch/streaming-unified
    sessionizer.
    """
    e = table(spark, sf_dir, "events")
    g = (
        e.select("user_id", "ts", "value")
        .groupBy(
            "user_id",
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return g.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
        "total_value",
    )


FUNNEL_STEPS = ("view", "click", "purchase")
FUNNEL_HORIZON_MINUTES = 120


@query(
    "q_events_funnel",
    f"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM events
        WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN s1 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL {FUNNEL_HORIZON_MINUTES} MINUTE
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN s2 USING (user_id)
        WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL {FUNNEL_HORIZON_MINUTES} MINUTE
        GROUP BY e.user_id
    )
    SELECT step, CAST(n_users AS BIGINT) AS n_users FROM (
        SELECT '1_{FUNNEL_STEPS[0]}' AS step, COUNT(*) AS n_users FROM s1
        UNION ALL
        SELECT '2_{FUNNEL_STEPS[1]}', COUNT(*) FROM s2
        UNION ALL
        SELECT '3_{FUNNEL_STEPS[2]}', COUNT(*) FROM s3
    )
    ORDER BY step
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-sequence funnel: users progressing view → click →
    purchase, each step strictly after the previous one's FIRST
    completion and within a 2-hour horizon of it — the product-
    analytics primitive (first-touch attribution semantics: the
    earliest qualifying event per step anchors the next window).

    Scale: one groupBy per step on user_id — all three share the same
    key partitioning, so after the first exchange the chain is
    co-partitioned joins + partial-aggregated MINs; no window over raw
    event order, no per-user event buffering.
    """
    e = table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    horizon = F.expr(f"INTERVAL {FUNNEL_HORIZON_MINUTES} MINUTES")
    s1 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[1])
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t1")) & (F.col("ts") <= F.col("t1") + horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == FUNNEL_STEPS[2])
        .join(s2, "user_id")
        .filter((F.col("ts") > F.col("t2")) & (F.col("ts") <= F.col("t2") + horizon))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    counts = [
        s1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(f"1_{FUNNEL_STEPS[0]}").alias("step"), "n_users"
        ),
        s2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(f"2_{FUNNEL_STEPS[1]}").alias("step"), "n_users"
        ),
        s3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(f"3_{FUNNEL_STEPS[2]}").alias("step"), "n_users"
        ),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.orderBy("step")


@query(
    "q_events_cohort_retention",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(date_trunc('week', ts) AS DATE)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST((epoch(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                     - epoch(CAST(f.cohort_week AS TIMESTAMP)))
                    / 604800 AS BIGINT) AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def q_events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by first-activity week,
    counted as active per subsequent week offset — the retention
    triangle every product dashboard draws.

    Scale: first-touch is one user-keyed groupBy; the activity join is
    co-partitioned on the same key; the final count groups (cohort,
    offset) — a few hundred cells however large the event stream. The
    distinct before counting collapses per-user-week duplicates
    map-side.
    """
    e = table(spark, sf_dir, "events").select("user_id", "ts")
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    firsts = e.groupBy("user_id").agg(F.min(week(F.col("ts"))).alias("cohort_week"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                (
                    F.unix_timestamp(week(F.col("ts")).cast("timestamp"))
                    - F.unix_timestamp(F.col("cohort_week").cast("timestamp"))
                )
                / 604800
            )
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


RFM_ASOF = "2024-02-01 00:00:00"


@query(
    "q_events_rfm_segments",
    f"""
    WITH base AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                              CAST(TIMESTAMP '{RFM_ASOF}' AS DATE))
                    AS BIGINT) AS recency_days,
               CAST(COUNT(*) AS BIGINT) AS frequency,
               ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value
                              ELSE 0 END), 2) AS monetary
        FROM events
        GROUP BY user_id
    )
    SELECT user_id, recency_days, frequency, monetary,
           CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score
    FROM (
        SELECT *,
               NTILE(4) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
               NTILE(4) OVER (ORDER BY frequency, user_id) AS f_score,
               NTILE(4) OVER (ORDER BY monetary, user_id) AS m_score
        FROM base
    )
    ORDER BY user_id
    """,
)
def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (calendar days since last
    event as of a fixed anchor date), frequency, purchase monetary value, each quartile-
    scored 1–4 (higher = better; ties broken by user id for engine
    determinism) — the classic behavioral segmentation query.

    Scale: one user-keyed aggregate, then three global NTILE sorts over
    the USER table (not the event stream); the event-scale work is the
    single partial-aggregated groupBy. NTILE's exact equal-count
    buckets need a global order — at extreme user counts swap the
    scores for approx_percentile quartile FENCES (map-side bucketing,
    threshold semantics instead of equal-count at the boundaries).
    """
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events")
    anchor = F.lit(RFM_ASOF).cast("timestamp")
    base = e.groupBy("user_id").agg(
        F.datediff(anchor.cast("date"), F.max("ts").cast("date"))
        .cast("bigint")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ),
            2,
        ).alias("monetary"),
    )
    return base.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy(F.desc("recency_days"), "user_id"))
        .alias("r_score"),
        F.ntile(4).over(Window.orderBy("frequency", "user_id")).alias("f_score"),
        F.ntile(4).over(Window.orderBy("monetary", "user_id")).alias("m_score"),
    )


@query(
    "q_events_error_anomalies",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                    AS BIGINT) AS n_errors,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events
        GROUP BY 1
    ),
    stats AS (
        SELECT AVG(n_errors) AS mu, stddev_samp(n_errors) AS sigma
        FROM hourly
    )
    SELECT h.hour, h.n_errors, h.n_events,
           ROUND((h.n_errors - s.mu) / s.sigma, 3) + 0.0 AS z_score
    FROM hourly h CROSS JOIN stats s
    WHERE (h.n_errors - s.mu) / s.sigma > 2
    ORDER BY h.hour
    """,
)
def q_events_error_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational anomaly screen: hours whose error count sits more
    than 2 standard deviations above the corpus-wide hourly mean —
    the alerting query every event pipeline runs over its own exhaust.

    Scale: one (hour)-keyed aggregate over the stream (map-side
    partial), a 2-value global stat, and a broadcast of that single
    row back over the hourly table. At 100 TB the hourly table is
    ~9k rows/year — the expensive part is the first aggregate, which
    is the minimum any error-rate monitor pays.
    """
    e = table(spark, sf_dir, "events").select("ts", "event_type")
    hourly = (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(
            F.count(F.when(F.col("event_type") == "error", 1)).alias(
                "n_errors"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    stats = hourly.agg(
        F.avg("n_errors").alias("mu"),
        F.stddev_samp("n_errors").alias("sigma"),
    )
    z = (F.col("n_errors") - F.col("mu")) / F.col("sigma")
    return (
        hourly.crossJoin(F.broadcast(stats))
        .filter(z > 2)
        .select(
            "hour",
            "n_errors",
            "n_events",
            (F.round(z, 3) + 0.0).alias("z_score"),
        )
        .orderBy("hour")
    )


@query(
    "q_events_resample_ffill",
    """
    WITH src AS (
        SELECT * FROM events WHERE user_id % 25 = 0 AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, bucket_ts, v FROM (
            SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value AS v,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM src
        ) WHERE rn = 1
    ),
    span AS (
        SELECT user_id, MIN(bucket_ts) AS mn, MAX(bucket_ts) AS mx
        FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT user_id,
               UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
        FROM span
    ),
    merged AS (
        SELECT g.user_id, g.bucket_ts, o.v,
               CASE WHEN o.user_id IS NULL THEN 0 ELSE 1 END AS is_observed
        FROM grid g LEFT JOIN obs o USING (user_id, bucket_ts)
    )
    SELECT user_id, bucket_ts,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY bucket_ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill,
           CAST(is_observed AS INT) AS is_observed
    FROM merged
    ORDER BY user_id, bucket_ts
    """,
)
def q_events_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: resample each user's irregular event
    stream onto an hourly grid with forward-fill (locf) — the
    hypertable gap-fill every monitoring/feature-engineering pipeline
    needs before joining series with different cadences.

    Scale (operators/events.resample_ffill): ONE exchange, no join —
    each observed bucket emits itself plus its trailing gap rows
    (lead() + sequence()/explode carrying the observed value), so
    forward-fill holds by construction; the per-bucket aggregation and
    the lead window both ride a single key repartition. The oracle
    replays the semantics in the classic grid + left-join +
    last_value(IGNORE NULLS) formulation — two independent derivations
    agreeing is a stronger check than replaying one shape twice. The
    non-null value filter keeps the last-in-bucket pick identical on
    both engines.
    """
    from ..operators.events import resample_ffill

    e = table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 25 == 0) & F.col("value").isNotNull()
    )
    return resample_ffill(e, "user_id", "ts", "value", "event_id")


@query(
    "q_events_hopping_window",
    """
    WITH exploded AS (
        SELECT make_timestamp(
                   (epoch_us(ts) // 900000000) * 900000000
                   - k.i * 900000000
               ) AS window_start,
               value
        FROM events, LATERAL unnest(range(0, 4)) AS k(i)
    )
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM exploded
    GROUP BY 1
    ORDER BY window_start
    """,
)
def q_events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time window: 1-hour windows advancing
    every 15 minutes — each event contributes to 4 overlapping windows.
    The smoothing window shape dashboards and rate-limit monitors use
    where tumbling buckets would alias; same semantics as the streaming
    `window(ts, '1 hour', '15 minutes')`.

    The oracle reconstructs Spark's window assignment from first
    principles (the 4 slide-aligned starts covering each event) — an
    independent derivation of the windowing rule, not a replay.

    Monetary sums are integer cents (see q_events_hourly_window).

    Scale: Spark expands each row into windowDuration/slide = 4 window
    rows map-side, then one partial-aggregatable groupBy on the window
    start — shuffle carries one partial row per (task, window), not 4x
    the events.
    """
    e = table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "15 minutes").start.alias(
                "window_start"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents).alias("total_cents"),
        )
        .orderBy("window_start")
    )


@query(
    "q_events_moving_avg",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               SUM(value) AS day_value
        FROM events
        GROUP BY day
    )
    SELECT day, n_events, ROUND(day_value, 2) AS day_value,
           ROUND(AVG(day_value) OVER w, 4) AS ma7,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_days_in_window
    FROM daily
    WINDOW w AS (ORDER BY date_diff('day', DATE '1970-01-01', day)
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day moving average of daily event value — the calendar-aware
    RANGE frame (interval windows skip missing days correctly, unlike a
    ROWS frame which would silently span gaps).

    Scale: one shuffle collapses the stream to one row per day; the
    window then runs over the day-count-sized series (a single ordered
    partition is fine BECAUSE the input is pre-aggregated — never run
    calendar windows over raw events). The frame orders by the integer
    epoch-day so Spark's numeric RANGE and DuckDB's agree exactly.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("day_value"),
    )
    w = (
        Window.orderBy(F.unix_date("day"))
        .rangeBetween(-6, Window.currentRow)
    )
    return daily.select(
        "day",
        "n_events",
        F.round("day_value", 2).alias("day_value"),
        F.round(F.avg("day_value").over(w), 4).alias("ma7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_days_in_window"),
    ).orderBy("day")


@query(
    "q_events_resample_interp",
    """
    WITH src AS (
        SELECT * FROM events WHERE user_id % 25 = 0 AND value IS NOT NULL
    ),
    obs AS (
        SELECT user_id, bucket_ts, v FROM (
            SELECT user_id, date_trunc('hour', ts) AS bucket_ts, value AS v,
                   ROW_NUMBER() OVER (
                       PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts DESC, event_id DESC
                   ) AS rn
            FROM src
        ) WHERE rn = 1
    ),
    span AS (
        SELECT user_id, MIN(bucket_ts) AS mn, MAX(bucket_ts) AS mx
        FROM obs GROUP BY 1
    ),
    grid AS (
        SELECT user_id,
               UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket_ts
        FROM span
    ),
    merged AS (
        SELECT g.user_id, g.bucket_ts, o.v,
               CASE WHEN o.user_id IS NULL THEN 0 ELSE 1 END AS is_observed
        FROM grid g LEFT JOIN obs o USING (user_id, bucket_ts)
    ),
    anno AS (
        SELECT user_id, bucket_ts, v, is_observed,
               last_value(v IGNORE NULLS) OVER wprev AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN bucket_ts END
                          IGNORE NULLS) OVER wprev AS pb,
               first_value(v IGNORE NULLS) OVER wnext AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN bucket_ts END
                           IGNORE NULLS) OVER wnext AS nb
        FROM merged
        WINDOW wprev AS (PARTITION BY user_id ORDER BY bucket_ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wnext AS (PARTITION BY user_id ORDER BY bucket_ts
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, bucket_ts,
           CASE WHEN is_observed = 1 THEN v
                ELSE pv + (nv - pv)
                     * date_diff('second', pb, bucket_ts)
                     / date_diff('second', pb, nb)
           END AS value_interp,
           CAST(is_observed AS INT) AS is_observed
    FROM anno
    ORDER BY user_id, bucket_ts
    """,
)
def q_events_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization with LINEAR interpolation — the
    hypertable `interpolate()` twin of q_events_resample_ffill's locf:
    gap buckets carry prev + (next−prev)·elapsed/span.

    Scale (operators/events.resample_interpolate): same one-exchange,
    no-join plan as the locf variant — the lead() carries both
    interpolation endpoints onto every emitted gap row. The oracle
    derives the semantics independently (grid + left join + IGNORE
    NULLS window walks both directions), so agreement certifies the
    recurrence, not a replay of the same shape.
    """
    from ..operators.events import resample_interpolate

    e = table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 25 == 0) & F.col("value").isNotNull()
    )
    return resample_interpolate(e, "user_id", "ts", "value", "event_id")


@query(
    "q_events_markov_transitions",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type
        FROM ordered WHERE next_type IS NOT NULL
    ),
    counts AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pairs GROUP BY from_type, to_type
    ),
    tot AS (SELECT from_type, SUM(n) AS row_total FROM counts GROUP BY from_type)
    SELECT c.from_type, c.to_type, CAST(c.n AS BIGINT) AS n,
           CAST(c.n * 1000000 // t.row_total AS BIGINT) AS p_ppm
    FROM counts c JOIN tot t USING (from_type)
    ORDER BY c.from_type, c.to_type
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: for every (from, to) event-type pair, the transition count
    and integer-ppm row-conditional probability — the user-journey
    fingerprint behind funnel design and anomaly baselines.

    Scale: one shuffle on user_id for the lead() sequencing (per-user
    sort, one row of look-ahead state), then a |types|^2 aggregate with
    map-side combine; the row-normalizing totals table is |types| rows,
    broadcast back. Integer ppm keeps the matrix engine-exact.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    # row totals via a window over the |types|^2 counts frame — a
    # broadcast-join formulation would recompute the whole pairs
    # pipeline for the build side (no exchange reuse across the
    # broadcast boundary); the window costs one tiny exchange instead
    wt = Window.partitionBy("from_type")
    return (
        counts.select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "CAST(n * 1000000 DIV SUM(n) OVER "
                "(PARTITION BY from_type) AS BIGINT)"
            ).alias("p_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_events_windowed_topk",
    """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n,
               CAST(SUM(round(value * 100)) AS BIGINT) AS cents
        FROM events GROUP BY 1, 2
    )
    SELECT window_start, event_type, CAST(n AS BIGINT) AS n, cents,
           CAST(rank AS INT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY window_start
                   ORDER BY n DESC, event_type) AS rank
        FROM hourly
    )
    WHERE rank <= 3
    ORDER BY window_start, rank
    """,
)
def q_events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per hourly window by volume (count-desc,
    type-name tie-break) with exact cent totals — the windowed
    leaderboard pattern (trending items per time bucket).

    Scale: pre-aggregation shrinks the stream to |windows|x|types| rows
    BEFORE any ranking, so the rank window sorts tiny groups; the plan
    is one agg exchange plus one window exchange over the aggregated
    table. Per-window top-k never sees raw events.
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("window_start"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100)).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("window_start").orderBy(
        F.desc("n"), "event_type"
    )
    return (
        hourly.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("window_start", "event_type", F.col("n").cast("bigint").alias("n"), "cents", "rank")
        .orderBy("window_start", "rank")
    )


@query(
    "q_events_ewma",
    """
    WITH RECURSIVE ordered AS (
        SELECT user_id, ts, event_id, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    rec AS (
        SELECT user_id, ts, event_id, value, rn,
               CAST(value AS DOUBLE) AS ewma
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.value, o.rn,
               0.75 * r.ewma + 0.25 * o.value
        FROM ordered o JOIN rec r
          ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts, ROUND(value, 6) AS value,
           CAST(FLOOR(ewma * 1000000) AS BIGINT) AS ewma_micros
    FROM rec
    ORDER BY user_id, ts, event_id
    """,
)
def q_events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha = 0.25, adjust-free) of purchase values in
    event order — the recursive-CTE oracle replays the identical
    float64 op sequence ((1-a)*prev + a*x), so every smoothed value is
    bit-checked, not approximately checked. The output edge is
    FLOOR-of-micros, not ROUND: alpha = 1/4 lands smoothed values on
    exact 7-dp points (x.xxx1875…) where Spark's shortest-repr HALF_UP
    and DuckDB's binary-value rounding disagree by one ulp of the last
    kept digit (surfaced at sf0.1); floor of the identical double is
    rounding-rule-free.

    Scale: one shuffle on user_id, then one linear mapInPandas pass
    over each key-sorted partition — no per-key pandas frame.
    """
    from ..operators.events import ewma

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value")
    )
    sm = ewma(ev, key="user_id", ts_col="ts", value_col="value",
              tiebreak="event_id")
    return sm.select(
        "user_id",
        "event_id",
        "ts",
        F.round("value", 6).alias("value"),
        F.floor(F.col("ewma") * 1_000_000).cast("bigint").alias(
            "ewma_micros"
        ),
    ).orderBy("user_id", "ts", "event_id")


@query(
    "q_events_rolling_active",
    """
    WITH ud AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
        FROM events
    ),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    wau AS (
        SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
        FROM (SELECT DISTINCT day FROM ud) d
        JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN wau w USING (day)
    ORDER BY d.day
    """,
)
def q_events_rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: exact DAU, trailing-7-day WAU, and the
    DAU/WAU stickiness ratio (integer ppm) per day.

    Sliding-window COUNT DISTINCT doesn't decompose, so the exact path
    reduces events to the (day, user) distinct grid FIRST (one
    shuffle; |days|x|users| upper bound, vastly smaller than events),
    then fans each row to its <=7 covering days through a broadcast
    join with the tiny day list. At extreme cardinality the in-repo
    mergeable-HLL path (q_sketch_reaggregation) replaces the exact
    distinct; this query pins the exact semantics.
    """
    ev = table(spark, sf_dir, "events")
    ud = (
        ev.select(
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
            "user_id",
        )
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    days = ud.select("day").distinct().select(F.col("day").alias("anchor"))
    wau = (
        ud.join(
            F.broadcast(days),
            (F.col("day") <= F.col("anchor"))
            & (F.col("day") >= F.date_sub(F.col("anchor"), 6)),
        )
        .groupBy("anchor")
        .agg(F.count_distinct("user_id").cast("bigint").alias("wau"))
        .withColumnRenamed("anchor", "day")
    )
    return (
        dau.join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("dau * 1000000 DIV wau").alias("stickiness_ppm"),
        )
        .orderBy("day")
    )


@query(
    "q_events_think_time",
    """
    WITH gaps AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
               - CAST(FLOOR(epoch(LAG(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id))) AS BIGINT)
                   AS gap_s
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           ROUND(median(gap_s), 4) AS med_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_events_think_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Think-time distribution: per event type, the median / p90 /
    max seconds a user waited since their PREVIOUS event (whatever its
    type) — the latency fingerprint that calibrates session-gap
    thresholds (q_events_sessionize's 30-min gap should sit far above
    p90 think time; here it does).

    Scale: one shuffle on user_id for the lag, one aggregate per type.
    Exact percentiles buffer per-group values — |types| groups here,
    and the catalog's sketch discipline (approx_percentile, see
    q_percentiles_approx) is the drop-in at extreme gap counts.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(w))
        ).cast("bigint").alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_s").cast("bigint").alias("n_gaps"),
            F.round(F.expr("percentile(gap_s, 0.5)"), 4).alias("med_gap_s"),
            F.round(F.expr("percentile(gap_s, 0.9)"), 4).alias("p90_gap_s"),
            F.max("gap_s").cast("bigint").alias("max_gap_s"),
        )
        .orderBy("event_type")
    )


@query(
    "q_events_ohlc",
    """
    WITH ranked AS (
        SELECT event_type, date_trunc('hour', ts) AS bucket, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS ra,
               ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rd
        FROM events)
    SELECT event_type, bucket,
           MAX(CASE WHEN ra = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rd = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM ranked
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — open/high/low/close/count, the
    continuous-aggregate downsampling a hypertable serves dashboards
    from. Deterministic open/close via (ts, event_id) tie-breaks.

    Scale (operators/events.ohlc_bars): one shuffle on (key, hour);
    the emitted bar table is |keys|x|hours| — storage-bounded however
    large the raw stream.
    """
    from ..operators.events import ohlc_bars

    e = table(spark, sf_dir, "events")
    return ohlc_bars(e, "event_type", "ts", "value")


ATTR_LOOKBACK_S = 6 * 3600


@query(
    "q_events_attribution",
    f"""
    WITH conv AS (
        SELECT user_id, event_id AS conv_id, epoch_us(ts) AS pt,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
    touch AS (
        SELECT user_id, event_id AS touch_id, ts AS touch_ts,
               epoch_us(ts) AS ct
        FROM events WHERE event_type = 'click'),
    matched AS (
        SELECT c.conv_id, t.touch_id, t.touch_ts, c.cents, t.ct
        FROM conv c JOIN touch t
          ON c.user_id = t.user_id
         AND t.ct >= c.pt - CAST({ATTR_LOOKBACK_S} AS BIGINT) * 1000000
         AND t.ct < c.pt),
    ranked AS (
        SELECT conv_id, touch_id, touch_ts, cents,
               ROW_NUMBER() OVER (PARTITION BY conv_id
                                  ORDER BY ct, touch_id) AS rn,
               COUNT(*) OVER (PARTITION BY conv_id) AS n
        FROM matched),
    credits AS (
        SELECT CAST(date_trunc('day', touch_ts) AS DATE) AS day,
               conv_id,
               CASE WHEN rn = 1 THEN cents - (n - 1) * (cents // n)
                    ELSE cents // n END AS credit
        FROM ranked)
    SELECT day, CAST(COUNT(*) AS BIGINT) AS n_credits,
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
           CAST(SUM(credit) AS BIGINT) / 100.0 AS credited_revenue
    FROM credits GROUP BY day ORDER BY day
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: purchase value split in integer
    cents across the user's clicks in the prior 6 h (remainder to the
    first touch — credits per conversion sum exactly), rolled up to
    credited revenue per click-day.

    Scale (operators/events.multi_touch_attribution): the lookback
    join is bucketized onto (user, window-bucket) — never a per-key
    nested loop; credit math is integer-only, so the oracle replays
    every cent.
    """
    from ..operators.events import multi_touch_attribution

    e = table(spark, sf_dir, "events")
    credits = multi_touch_attribution(
        e, "user_id", "click", "purchase", ATTR_LOOKBACK_S
    )
    return (
        credits.groupBy(F.to_date(F.date_trunc("day", "touch_ts")).alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_credits"),
            F.countDistinct("conv_id").cast("bigint").alias("n_conversions"),
            (F.sum("credit_cents").cast("bigint") / 100.0).alias(
                "credited_revenue"
            ),
        )
        .orderBy("day")
    )


CUSUM_TARGET = 15000
CUSUM_SLACK = 5000
CUSUM_H = 50000


@query(
    "q_events_cusum",
    f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type = 'purchase'
    ),
    rec AS (
        SELECT user_id, ts, event_id, cents, rn,
               greatest(cents - {CUSUM_TARGET + CUSUM_SLACK}, 0) AS s
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.ts, o.event_id, o.cents, o.rn,
               greatest(r.s + o.cents - {CUSUM_TARGET + CUSUM_SLACK}, 0)
        FROM ordered o JOIN rec r
          ON o.user_id = r.user_id AND o.rn = r.rn + 1
    )
    SELECT user_id, event_id, ts, CAST(cents AS BIGINT) AS cents,
           CAST(s AS BIGINT) AS cusum_cents,
           s > {CUSUM_H} AS alarm
    FROM rec
    ORDER BY user_id, ts, event_id
    """,
)
def q_events_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM drift detector over purchase cents (target
    150.00, slack 50.00, alarm above 500.00 accumulated excess) —
    sustained-overspend changepoints, every state bit-checked by the
    recursive-CTE oracle (pure int64 recurrence).

    Scale (operators/events.cusum): one user-keyed shuffle + a single
    linear Arrow pass per partition, like the EWMA twin.
    """
    from ..operators.events import cusum

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    return cusum(
        ev,
        key="user_id",
        ts_col="ts",
        value_cents_col="cents",
        tiebreak="event_id",
        target_cents=CUSUM_TARGET,
        slack_cents=CUSUM_SLACK,
        threshold_cents=CUSUM_H,
    )


@query(
    "q_events_welch",
    """
    WITH g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS s,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)
                        * CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS ss
        FROM events
        WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ),
    w AS (
        SELECT MAX(CASE WHEN event_type = 'click' THEN n END) AS n_a,
               MAX(CASE WHEN event_type = 'click' THEN s END) AS s_a,
               MAX(CASE WHEN event_type = 'click' THEN ss END) AS ss_a,
               MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_b,
               MAX(CASE WHEN event_type = 'purchase' THEN s END) AS s_b,
               MAX(CASE WHEN event_type = 'purchase' THEN ss END) AS ss_b
        FROM g
    ),
    v AS (
        SELECT n_a, n_b,
               s_a / CAST(n_a AS DOUBLE) AS mean_a,
               s_b / CAST(n_b AS DOUBLE) AS mean_b,
               (ss_a - (s_a * 1.0) * s_a / CAST(n_a AS DOUBLE))
                   / CAST(n_a - 1 AS DOUBLE) AS var_a,
               (ss_b - (s_b * 1.0) * s_b / CAST(n_b AS DOUBLE))
                   / CAST(n_b - 1 AS DOUBLE) AS var_b
        FROM w
    )
    SELECT n_a, n_b,
           ROUND(mean_a, 4) AS mean_cents_a,
           ROUND(mean_b, 4) AS mean_cents_b,
           ROUND((mean_a - mean_b)
                 / sqrt(var_a / n_a + var_b / n_b), 4) + 0.0 AS t_stat,
           ROUND(((var_a / n_a + var_b / n_b)
                  * (var_a / n_a + var_b / n_b))
                 / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                    + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 2)
               AS welch_df
    FROM v
    """,
)
def q_events_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between click and purchase
    monetary values — the A/B-test primitive (does cohort A spend
    differently from cohort B?), with the Welch-Satterthwaite degrees
    of freedom.

    Determinism discipline: both engines aggregate only exact BIGINTs
    (cent sums and cent-square sums — partial aggregation does all the
    work map-side, one scan, one 2-group shuffle); every float op after
    that is a scalar expression over exactly-representable integers, so
    mean/variance/t/df are bit-identical regardless of row order or
    partitioning (the squared-sum term is promoted to double BEFORE the
    multiply — s² in int64 overflows once a cohort's cents pass ~3e9,
    i.e. ~$30M total; the double product of an exact int is correctly
    rounded, so determinism survives the promotion). This is the same
    exact-moments trick as q_histogram_price, applied to inference
    statistics.

    Scale: single pass over the fact table, two result groups — the
    statistic costs one map-side combine regardless of row count; the
    int64 headroom limits are the cohort cent total (2^63 on s, and
    ss while per-row cents² × rows stays under 2^63 — beyond that,
    pre-scale to dollars or widen ss to DECIMAL).
    """
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    cents = F.round(F.col("value") * 100).cast("bigint")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).alias("s"),
        F.sum(cents * cents).alias("ss"),
    )

    def side(col: str, t: str):
        return F.max(F.when(F.col("event_type") == t, F.col(col)))

    w = g.agg(
        side("n", "click").alias("n_a"),
        side("s", "click").alias("s_a"),
        side("ss", "click").alias("ss_a"),
        side("n", "purchase").alias("n_b"),
        side("s", "purchase").alias("s_b"),
        side("ss", "purchase").alias("ss_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a").cast("double")
    mean_b = F.col("s_b") / F.col("n_b").cast("double")
    var_a = (
        F.col("ss_a")
        - (F.col("s_a") * F.lit(1.0)) * F.col("s_a") / F.col("n_a").cast("double")
    ) / (F.col("n_a") - 1).cast("double")
    var_b = (
        F.col("ss_b")
        - (F.col("s_b") * F.lit(1.0)) * F.col("s_b") / F.col("n_b").cast("double")
    ) / (F.col("n_b") - 1).cast("double")
    se2_a = var_a / F.col("n_a")
    se2_b = var_b / F.col("n_b")
    return w.select(
        "n_a",
        "n_b",
        F.round(mean_a, 4).alias("mean_cents_a"),
        F.round(mean_b, 4).alias("mean_cents_b"),
        (F.round((mean_a - mean_b) / F.sqrt(se2_a + se2_b), 4) + 0.0).alias(
            "t_stat"
        ),
        F.round(
            ((se2_a + se2_b) * (se2_a + se2_b))
            / (
                se2_a * se2_a / (F.col("n_a") - 1)
                + se2_b * se2_b / (F.col("n_b") - 1)
            ),
            2,
        ).alias("welch_df"),
    )


@query(
    "q_events_autocorr",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events
        GROUP BY event_type, CAST(ts AS DATE)
    ),
    pairs AS (
        SELECT event_type, c AS y,
               LAG(c) OVER (PARTITION BY event_type ORDER BY day) AS x,
               CASE WHEN day - LAG(day) OVER (
                        PARTITION BY event_type ORDER BY day
                    ) = 1 THEN 1 ELSE 0 END AS adjacent
        FROM daily
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM pairs WHERE x IS NOT NULL AND adjacent = 1
        GROUP BY event_type
    )
    SELECT event_type, n AS n_pairs,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) + 0.0
               AS lag1_autocorr
    FROM m
    ORDER BY event_type
    """,
)
def q_events_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each event type's daily volume — the
    seasonality/burstiness fingerprint of a stream (near 1: trending
    days cluster; near 0: day-to-day volume is memoryless). Only
    calendar-adjacent day pairs correlate; gaps contribute nothing
    rather than silently pairing across them.

    Determinism: the Pearson moments are exact BIGINT sums over integer
    daily counts (n·Σxy − ΣxΣy form), floats appear only in the final
    scalar quotient — bit-identical across engines and partitionings,
    unlike corr() over doubles whose summation order floats.

    Scale: one shuffle to the per-(type, day) rollup (map-side
    combine), a days-per-type window, and a type-count-sized result.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    win = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.col("c").alias("y"),
        F.lag("c").over(win).alias("x"),
        (F.datediff(F.col("day"), F.lag("day").over(win)) == 1).alias(
            "adjacent"
        ),
    ).filter(F.col("x").isNotNull() & F.col("adjacent"))
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        m.select(
            "event_type",
            F.col("n").alias("n_pairs"),
            (F.round(num / den, 6) + 0.0).alias("lag1_autocorr"),
        )
        .orderBy("event_type")
    )


ASSOC_TOPK = 100


@query(
    "q_events_assoc_rules",
    f"""
    WITH ui AS (
        SELECT DISTINCT user_id,
               CAST(json_extract_string(props, '$.k') AS INT) AS item
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    n AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ui),
    ci AS (SELECT item, COUNT(*) AS c FROM ui GROUP BY 1),
    cab AS (
        SELECT a.item AS antecedent, b.item AS consequent, COUNT(*) AS c
        FROM ui a JOIN ui b
          ON a.user_id = b.user_id AND a.item <> b.item
        GROUP BY 1, 2
    )
    SELECT antecedent, consequent,
           CAST(cab.c AS BIGINT) AS n_both,
           CAST(cab.c * 1000000 // n.nu AS BIGINT) AS support_ppm,
           CAST(cab.c * 1000000 // ca.c AS BIGINT) AS confidence_ppm,
           CAST(cab.c * n.nu * 1000000 // (ca.c * cb.c) AS BIGINT)
               AS lift_ppm
    FROM cab
      JOIN ci ca ON ca.item = cab.antecedent
      JOIN ci cb ON cb.item = cab.consequent
      CROSS JOIN n
    ORDER BY lift_ppm DESC, antecedent, consequent
    LIMIT {ASSOC_TOPK}
    """,
)
def q_events_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over user→item observations: the 100
    directed rules A→B with the highest lift, each carrying exact
    integer-ppm support (share of users with both), confidence
    (P(B|A)) and lift (observed co-occurrence over the independence
    expectation) — the market-basket primitive behind "users who
    clicked A also clicked B". Directionality matters: confidence is
    asymmetric even though support and lift are not, which is what
    distinguishes this from the PMI collocation view of the same
    counts.

    Determinism: all three measures are integer DIV over exact BIGINT
    counts; the top-100 cut orders by (lift_ppm, antecedent,
    consequent) — total and engine-independent.

    Scale: per-user distinct item sets collapse map-side (same shape
    as cooccurrence_pairs); the pair count is one shuffle; item counts
    and the user total are dimension-sized broadcasts; the top-k is
    TakeOrderedAndProject. Never |users|² — pairs form only through
    the shared-user equi-join.
    """
    from ..operators.events import directed_cooccurrence

    ev = table(spark, sf_dir, "events")
    ui = ev.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("int").alias("item"),
    ).filter(F.col("item").isNotNull())
    directed = directed_cooccurrence(ui, "user_id", "item").select(
        F.col("src").alias("antecedent"),
        F.col("dst").alias("consequent"),
        F.col("weight").alias("n_both"),
    )
    distinct_ui = ui.distinct()
    ci = distinct_ui.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    nu = distinct_ui.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("nu")
    )
    ca = ci.select(F.col("item").alias("antecedent"), F.col("c").alias("__ca"))
    cb = ci.select(F.col("item").alias("consequent"), F.col("c").alias("__cb"))
    return (
        directed.join(F.broadcast(ca), "antecedent")
        .join(F.broadcast(cb), "consequent")
        .crossJoin(F.broadcast(nu))
        .select(
            "antecedent",
            "consequent",
            F.col("n_both").cast("bigint").alias("n_both"),
            F.expr("CAST(n_both * 1000000 DIV nu AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(n_both * 1000000 DIV __ca AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "CAST(n_both * nu * 1000000 DIV (__ca * __cb) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "antecedent", "consequent")
        .limit(ASSOC_TOPK)
    )


@query(
    "q_events_concurrency",
    """
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, session_seq,
               MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM (SELECT user_id, ts,
                     SUM(is_start) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM s)
        GROUP BY user_id, session_seq
    ),
    deltas AS (
        SELECT start_ts AS t, 1 AS delta FROM sess
        UNION ALL
        SELECT end_ts AS t, -1 AS delta FROM sess
    ),
    run AS (
        SELECT t, delta,
               SUM(delta) OVER (ORDER BY t, -delta
                                ROWS UNBOUNDED PRECEDING) AS conc
        FROM deltas
    )
    SELECT CAST(t AS DATE) AS day,
           CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
           CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS sessions_started
    FROM run
    GROUP BY 1
    ORDER BY day
    """,
)
def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the capacity-planning number
    (how many users were on AT ONCE, not per day): 30-minute-gap
    sessions swept as +1/−1 boundary events with a global running sum;
    starts sort before ends at the same instant, so back-to-back
    sessions count as overlapping at the boundary (the conservative
    capacity convention).

    Determinism: ties within one (t, delta) group are same-signed, so
    every ordering of peers yields the same per-day running-max —
    the output is total-order-independent even though the intermediate
    prefix values are not.

    Scale: sessionization is the standard per-key window; the sweep is
    2 rows per session through the two-phase range-partitioned global
    cumsum (operators/sampling.global_running_sum — no
    single-partition window), then a per-day rollup. Session count,
    not event count, bounds the sweep.
    """
    from ..operators.events import sessionize
    from ..operators.sampling import global_running_sum

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = (
        sessionize(ev, "user_id", "ts", 30, order_cols=("event_id",))
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("start_ts"), F.max("ts").alias("end_ts"))
    )
    # ONE explode instead of a two-branch union (r12, VERDICT r11 #6;
    # written and proven output-identical in the r11 work log): the
    # union evaluated the whole sessionize+groupBy subtree TWICE — free
    # in wall time on an idle local box (the branches run in parallel),
    # but 2x the session-pass CPU at cluster scale, where the corpus
    # pass is the cost that matters. Identical (t, delta) multiset:
    # each session emits exactly its (start, +1) and (end, -1) rows.
    deltas = sess.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("start_ts").alias("t"), F.lit(1).alias("delta")
                ),
                F.struct(
                    F.col("end_ts").alias("t"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("__e")
    ).select("__e.t", "__e.delta").withColumn(
        "__dorder", -F.col("delta")
    )
    run = global_running_sum(
        deltas, ["t", "__dorder"], "delta", out_col="conc"
    )
    return (
        run.groupBy(F.col("t").cast("date").alias("day"))
        .agg(
            F.max("conc").cast("bigint").alias("peak_concurrency"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("sessions_started"),
        )
        .orderBy("day")
    )


BOT_TOPN = 10


@query(
    "q_events_bot_screen",
    f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
                   - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS span_s
        FROM events GROUP BY user_id
    ),
    rate AS (
        SELECT user_id,
               CAST(n_events * 86400000000 // span_s AS BIGINT)
                   AS rate_ppm
        FROM per_user WHERE span_s >= 3600
    ),
    mono AS (
        SELECT user_id,
               CAST(MAX(c) * 1000000 // SUM(c) AS BIGINT) AS mono_ppm
        FROM (SELECT user_id, event_type, COUNT(*) AS c
              FROM events GROUP BY 1, 2)
        GROUP BY user_id
    ),
    burst AS (
        SELECT user_id,
               CAST(SUM(c * (c - 1) // 2) AS BIGINT) AS same_sec_pairs
        FROM (SELECT user_id, date_trunc('second', ts) AS s,
                     COUNT(*) AS c
              FROM events GROUP BY 1, 2)
        GROUP BY user_id
    ),
    feat AS (
        SELECT u.user_id, u.n_events, r.rate_ppm, m.mono_ppm,
               b.same_sec_pairs,
               ROW_NUMBER() OVER (ORDER BY r.rate_ppm DESC NULLS LAST,
                                  u.user_id) AS rk_rate,
               ROW_NUMBER() OVER (ORDER BY m.mono_ppm DESC, u.user_id)
                   AS rk_mono,
               ROW_NUMBER() OVER (ORDER BY b.same_sec_pairs DESC,
                                  u.user_id) AS rk_burst
        FROM per_user u
          LEFT JOIN rate r USING (user_id)
          JOIN mono m USING (user_id)
          JOIN burst b USING (user_id)
    )
    SELECT user_id, n_events, rate_ppm, mono_ppm, same_sec_pairs,
           rk_rate <= {BOT_TOPN} AND rate_ppm IS NOT NULL AS flag_rate,
           rk_mono <= {BOT_TOPN} AS flag_mono,
           rk_burst <= {BOT_TOPN} AS flag_burst
    FROM feat
    WHERE (rk_rate <= {BOT_TOPN} AND rate_ppm IS NOT NULL)
       OR rk_mono <= {BOT_TOPN} OR rk_burst <= {BOT_TOPN}
    ORDER BY user_id
    """,
)
def q_events_bot_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abuse/bot screening shortlist — the traffic-hygiene gate a
    training-data pipeline runs before events feed any model: the
    top-10 users by each of three integer-exact machine signals —
    sustained event RATE (events/day, ppm), MONOTYPE share (one event
    type dominating), and same-second BURST pairs (the machine-gun
    fingerprint no human interaction pattern produces). Rank-based
    flags (not absolute thresholds) keep the screen distribution-free;
    an operator reviews the shortlist, not 10⁶ raw scores.

    Determinism: every feature is BIGINT arithmetic over exact counts
    and epoch seconds; flags come from total-ordered ranks (value
    desc, user asc). The mono and burst shortlists rank over ALL
    users; the rate signal alone requires a ≥ 1 h observation span
    (a rate over seconds is noise, and a machine-gun bot that fires
    and vanishes is exactly what the burst signal still catches via
    the left join).

    Scale: three hash aggregates over (user), (user, type),
    (user, second) — all map-side combined; the rank windows run over
    the user-count-sized feature table, and a production run would
    TakeOrderedAndProject each signal instead of ranking all users.
    """
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "span_s"
        ),
    )
    rate = per_user.filter(F.col("span_s") >= 3600).select(
        "user_id",
        F.expr("CAST(n_events * 86400000000 DIV span_s AS BIGINT)").alias(
            "rate_ppm"
        ),
    )
    mono = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(
            F.expr("CAST(MAX(c) * 1000000 DIV SUM(c) AS BIGINT)").alias(
                "mono_ppm"
            )
        )
    )
    burst = (
        ev.groupBy("user_id", F.date_trunc("second", F.col("ts")).alias("s"))
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("c * (c - 1) DIV 2")).cast("bigint").alias(
                "same_sec_pairs"
            )
        )
    )
    feat = (
        per_user.select("user_id", "n_events")
        .join(rate, "user_id", "left")
        .join(mono, "user_id")
        .join(burst, "user_id")
    )
    feat = feat.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc_nulls_last("rate_ppm"), "user_id"))
        .alias("rk_rate"),
        F.row_number()
        .over(Window.orderBy(F.desc("mono_ppm"), "user_id"))
        .alias("rk_mono"),
        F.row_number()
        .over(Window.orderBy(F.desc("same_sec_pairs"), "user_id"))
        .alias("rk_burst"),
    )
    n = BOT_TOPN
    flag_rate = (F.col("rk_rate") <= n) & F.col("rate_ppm").isNotNull()
    return (
        feat.filter(
            flag_rate | (F.col("rk_mono") <= n) | (F.col("rk_burst") <= n)
        )
        .select(
            "user_id",
            "n_events",
            "rate_ppm",
            "mono_ppm",
            "same_sec_pairs",
            flag_rate.alias("flag_rate"),
            (F.col("rk_mono") <= n).alias("flag_mono"),
            (F.col("rk_burst") <= n).alias("flag_burst"),
        )
        .orderBy("user_id")
    )


FORECAST_EVAL_DAYS = 7


@query(
    "q_events_forecast_snaive",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    anchor AS (SELECT MAX(day) AS maxd FROM daily),
    eval_days AS (
        SELECT d.event_type, d.day, d.c,
               s.c AS pred_snaive, n.c AS pred_naive
        FROM daily d
          CROSS JOIN anchor a
          JOIN daily s ON s.event_type = d.event_type
                      AND s.day = d.day - INTERVAL 7 DAY
          JOIN daily n ON n.event_type = d.event_type
                      AND n.day = d.day - INTERVAL 1 DAY
        WHERE d.day > a.maxd - INTERVAL {FORECAST_EVAL_DAYS} DAY
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(abs(c - pred_snaive)) AS BIGINT) AS abs_err_snaive,
           CAST(SUM(abs(c - pred_naive)) AS BIGINT) AS abs_err_naive,
           CASE WHEN SUM(abs(c - pred_snaive)) < SUM(abs(c - pred_naive))
                THEN 'seasonal_naive'
                WHEN SUM(abs(c - pred_snaive)) > SUM(abs(c - pred_naive))
                THEN 'naive' ELSE 'tie' END AS better_baseline
    FROM eval_days
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def q_events_forecast_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline evaluation on the stream's own history: for
    the last 7 days, score the SEASONAL-NAIVE forecast (same weekday
    last week) against the plain naive one (yesterday) per event type
    by total absolute error — the honest floor every real forecasting
    model must beat before it ships, and the weekly-seasonality
    detector in one number (seasonal-naive winning = weekday structure
    exists).

    Determinism: integer daily counts, integer errors; calendar joins
    (day − 7, day − 1) rather than row offsets, so a missing day drops
    the evaluation point instead of silently mispairing.

    Scale: one map-combined rollup to (type, day), two self-equi-joins
    on the calendar key over the tiny rollup, a per-type reduce.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    anchor = daily.agg(F.max("day").alias("maxd"))
    s = daily.select(
        F.col("event_type"),
        F.date_add(F.col("day"), 7).alias("day"),
        F.col("c").alias("pred_snaive"),
    )
    n1 = daily.select(
        F.col("event_type"),
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("c").alias("pred_naive"),
    )
    ev_days = (
        daily.join(s, ["event_type", "day"])
        .join(n1, ["event_type", "day"])
        .crossJoin(F.broadcast(anchor))
        .filter(
            F.col("day") > F.date_sub(F.col("maxd"), FORECAST_EVAL_DAYS)
        )
    )
    err_s = F.abs(F.col("c") - F.col("pred_snaive"))
    err_n = F.abs(F.col("c") - F.col("pred_naive"))
    return (
        ev_days.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(err_s).cast("bigint").alias("abs_err_snaive"),
            F.sum(err_n).cast("bigint").alias("abs_err_naive"),
        )
        .select(
            "event_type",
            "n_days",
            "abs_err_snaive",
            "abs_err_naive",
            F.when(
                F.col("abs_err_snaive") < F.col("abs_err_naive"),
                F.lit("seasonal_naive"),
            )
            .when(
                F.col("abs_err_snaive") > F.col("abs_err_naive"),
                F.lit("naive"),
            )
            .otherwise(F.lit("tie"))
            .alias("better_baseline"),
        )
        .orderBy("event_type")
    )


@query(
    "q_events_anomaly_seasonal",
    """
    WITH cells AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(EXTRACT(hour FROM ts) AS INT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    prof AS (
        SELECT event_type, hod,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS s,
               CAST(SUM(c * c) AS BIGINT) AS ss
        FROM cells GROUP BY 1, 2
    )
    SELECT c.event_type, c.day, c.hod, c.c AS n_events,
           ROUND(p.s / CAST(p.n_days AS DOUBLE), 4) AS hod_mean
    FROM cells c JOIN prof p
      ON p.event_type = c.event_type AND p.hod = c.hod
    WHERE p.n_days >= 7
      AND (c.c * p.n_days - p.s) > 0
      AND (c.c * p.n_days - p.s) * (c.c * p.n_days - p.s)
          > 4 * (p.n_days * p.ss - p.s * p.s)
    ORDER BY c.event_type, c.day, c.hod
    """,
)
def q_events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-ADJUSTED volume anomalies: each (type, day, hour)
    cell is compared against its own hour-of-day profile — a 2-sigma
    spike at 3am is an incident even when 3pm routinely runs higher,
    which the global-mean screen (q_events_error_anomalies)
    structurally misses. The 2σ test is evaluated in pure integers by
    clearing denominators: with population σ² = (n·ss − s²)/n²,
    c > mean + 2σ  ⇔  (c·n − s) > 0 and (c·n − s)² > 4·(n·ss − s²) —
    no float enters the predicate, so
    cross-engine agreement is exact (the reported mean is decorative,
    rounded at the edge).

    Scale: one map-combined rollup to (type, day, hour) cells, one
    profile aggregate over them (type × 24 rows, broadcast back), a
    filtered join. The population-variance form keeps both moments
    exact BIGINTs.
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    prof = cells.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ss"),
    )
    j = cells.join(F.broadcast(prof), ["event_type", "hod"])
    dev = F.col("c") * F.col("n_days") - F.col("s")
    var_num = F.col("n_days") * F.col("ss") - F.col("s") * F.col("s")
    return (
        j.filter((F.col("n_days") >= 7) & (dev > 0) & (dev * dev > 4 * var_num))
        .select(
            "event_type",
            "day",
            "hod",
            F.col("c").alias("n_events"),
            F.round(F.col("s") / F.col("n_days").cast("double"), 4).alias(
                "hod_mean"
            ),
        )
        .orderBy("event_type", "day", "hod")
    )


@query(
    "q_events_survival",
    """
    WITH lt AS (
        SELECT user_id,
               date_diff('day', MIN(CAST(ts AS DATE)),
                         MAX(CAST(ts AS DATE))) AS lifetime_days
        FROM events GROUP BY user_id
    ),
    n AS (SELECT COUNT(*) AS nu FROM lt),
    grid AS (SELECT CAST(t AS INT) AS t FROM range(0, 30) g(t))
    SELECT g.t AS day,
           CAST(SUM(CASE WHEN lt.lifetime_days >= g.t THEN 1 ELSE 0 END)
                AS BIGINT) AS n_surviving,
           CAST(SUM(CASE WHEN lt.lifetime_days >= g.t THEN 1 ELSE 0 END)
                * 1000000 // MAX(n.nu) AS BIGINT) AS survival_ppm
    FROM grid g CROSS JOIN lt CROSS JOIN n
    GROUP BY g.t
    ORDER BY day
    """,
)
def q_events_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve: S(t) = share of users still
    observed ≥ t days after their first event, on a 0..29-day grid —
    the churn/retention curve (the empirical complement-CDF of
    lifetimes; with no censoring in a closed window this IS the
    Kaplan-Meier estimate). The day-30 tail going to zero or not is
    the first thing a growth dashboard reads off this.

    Determinism: integer day diffs, integer counts, ppm integer
    division.

    Scale: one user-keyed rollup to lifetimes (map-side combine), then
    a 30-row grid joined against the per-lifetime histogram — the
    cross join is grid × |distinct lifetimes| after pre-aggregation
    (the engine groups lifetimes first; the oracle's row-wise cross
    join is the semantic spec, not the plan).
    """
    ev = table(spark, sf_dir, "events")
    lt = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")), F.min(F.col("ts").cast("date"))
        ).alias("lifetime_days")
    )
    hist = lt.groupBy("lifetime_days").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    nu = lt.agg(F.count(F.lit(1)).alias("nu"))
    grid = spark.range(0, 30).select(F.col("id").cast("int").alias("day"))
    return (
        grid.join(
            F.broadcast(hist),
            F.col("lifetime_days") >= F.col("day"),
            "left",
        )
        .groupBy("day")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_surviving"))
        .crossJoin(F.broadcast(nu))
        # zero users: the oracle's CROSS JOIN against an empty lt is
        # empty, and the ppm division below would be 0 DIV 0 — drop the
        # grid rows, matching the oracle exactly (no-op when any user
        # exists: nu > 0 holds on every row)
        .filter(F.col("nu") > 0)
        .select(
            "day",
            F.col("n_surviving").cast("bigint").alias("n_surviving"),
            F.expr(
                "CAST(n_surviving * 1000000 DIV nu AS BIGINT)"
            ).alias("survival_ppm"),
        )
        .orderBy("day")
    )


@query(
    "q_events_burstiness",
    """
    WITH gaps AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - CAST(FLOOR(epoch(LAG(ts) OVER (
                         PARTITION BY event_type, user_id
                         ORDER BY ts, event_id))) AS BIGINT) AS g
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS s,
               CAST(SUM(g * g) AS BIGINT) AS ss
        FROM gaps WHERE g IS NOT NULL
        GROUP BY event_type
    )
    SELECT event_type, n AS n_gaps,
           ROUND(s / CAST(n AS DOUBLE), 4) AS mean_gap_s,
           ROUND(sqrt((ss - (s * 1.0) * s / n) / n), 4) AS stddev_gap_s,
           ROUND((sqrt((ss - (s * 1.0) * s / n) / n) - s / CAST(n AS DOUBLE))
                 / (sqrt((ss - (s * 1.0) * s / n) / n)
                    + s / CAST(n AS DOUBLE)), 6) + 0.0 AS burstiness
    FROM m
    ORDER BY event_type
    """,
)
def q_events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goh–Barabási burstiness index per event type over per-user
    inter-event gaps: B = (σ−μ)/(σ+μ) ∈ (−1, 1) — the single number
    that separates clocklike traffic (B→−1), Poisson traffic (B≈0),
    and bursty human/incident traffic (B→1). The distributional
    companion to q_events_think_time's percentiles and the stationary
    twin of the CUSUM/anomaly detectors: a rising B with a flat mean
    is load arriving in spikes.

    Determinism: whole-second gaps in exact BIGINTs (floored epochs on
    both engines), population moments with the squared sum promoted to
    double before multiplying (Welch's overflow discipline); σ is one
    correctly-rounded sqrt.

    Scale: one (type, user)-keyed window for gaps, one map-combined
    moment aggregate, a type-count result.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type", "user_id").orderBy(
        "ts", "event_id"
    )
    g = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    ).alias("g")
    gaps = ev.select("event_type", g).filter(F.col("g").isNotNull())
    m = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("g").cast("bigint").alias("s"),
        F.sum(F.col("g") * F.col("g")).cast("bigint").alias("ss"),
    )
    mean = F.col("s") / F.col("n").cast("double")
    var = (
        F.col("ss") - (F.col("s") * F.lit(1.0)) * F.col("s") / F.col("n")
    ) / F.col("n")
    sd = F.sqrt(var)
    return (
        m.select(
            "event_type",
            F.col("n").alias("n_gaps"),
            F.round(mean, 4).alias("mean_gap_s"),
            F.round(sd, 4).alias("stddev_gap_s"),
            (F.round((sd - mean) / (sd + mean), 6) + 0.0).alias(
                "burstiness"
            ),
        )
        .orderBy("event_type")
    )


@query(
    "q_events_entropy_rate",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    counts AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
            FROM counts GROUP BY from_type),
    grand AS (SELECT CAST(SUM(n) AS BIGINT) AS g FROM counts)
    SELECT c.from_type,
           MAX(t.row_total) AS n_transitions,
           CAST(MAX(t.row_total) * 1000000 // MAX(g.g) AS BIGINT)
               AS state_ppm,
           ROUND(-SUM((c.n * 1.0 / t.row_total)
                      * ln(c.n * 1.0 / t.row_total)), 6) + 0.0
               AS cond_entropy_nats
    FROM counts c JOIN tot t USING (from_type) CROSS JOIN grand g
    GROUP BY c.from_type
    ORDER BY c.from_type
    """,
)
def q_events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-state conditional entropy of the first-order user-journey
    Markov chain (same transition counts as
    q_events_markov_transitions): how predictable the NEXT action is
    from each current action, in nats — 0 means deterministic flow
    (every view leads to a click), ln(5) ≈ 1.609 means anything can
    follow. The state_ppm weights let a reader fold the rows into the
    chain's overall entropy rate Σ p(s)·H(s) — the single
    predictability number behind "can we prefetch the next screen".

    Determinism: exact transition counts; ≤ |states| ln terms per row
    summed then rounded at the edge (the heldout-logprob discipline).

    Scale: one user-keyed window for transitions, two tiny aggregates
    — the matrix is |states|² however long the stream.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = counts.groupBy("from_type").agg(
        F.sum("n").cast("bigint").alias("row_total")
    )
    grand = counts.agg(F.sum("n").cast("bigint").alias("g"))
    p = F.col("n") * 1.0 / F.col("row_total")
    return (
        counts.join(F.broadcast(tot), "from_type")
        .crossJoin(F.broadcast(grand))
        .groupBy("from_type")
        .agg(
            F.max("row_total").alias("n_transitions"),
            F.expr(
                "CAST(MAX(row_total) * 1000000 DIV MAX(g) AS BIGINT)"
            ).alias("state_ppm"),
            (F.round(-F.sum(p * F.log(p)), 6) + 0.0).alias(
                "cond_entropy_nats"
            ),
        )
        .orderBy("from_type")
    )


@query(
    "q_events_conversion_ztest",
    """
    WITH half AS (
        SELECT user_id,
               CASE WHEN MIN(CAST(ts AS DATE)) < DATE '2024-01-16'
                    THEN 'first_half' ELSE 'second_half' END AS cohort,
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS converted
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS k
        FROM half GROUP BY cohort
    ),
    w AS (
        SELECT MAX(CASE WHEN cohort = 'first_half' THEN n END) AS n1,
               MAX(CASE WHEN cohort = 'first_half' THEN k END) AS k1,
               MAX(CASE WHEN cohort = 'second_half' THEN n END) AS n2,
               MAX(CASE WHEN cohort = 'second_half' THEN k END) AS k2
        FROM g
    )
    SELECT n1, k1, n2, k2,
           CAST(k1 * 1000000 // n1 AS BIGINT) AS rate1_ppm,
           CAST(k2 * 1000000 // n2 AS BIGINT) AS rate2_ppm,
           ROUND((k1 * 1.0 / n1 - k2 * 1.0 / n2)
                 / sqrt(((k1 + k2) * 1.0 / (n1 + n2))
                        * (1 - (k1 + k2) * 1.0 / (n1 + n2))
                        * (1.0 / n1 + 1.0 / n2)), 4) + 0.0 AS z_stat
    FROM w
    """,
)
def q_events_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on user conversion (ever purchased)
    between acquisition cohorts (users first seen in the first vs
    second half of the month) — the categorical A/B-test primitive
    next to q_events_welch's continuous one: pooled-proportion
    standard error, |z| > 1.96 is the 95% flag a growth dashboard
    raises.

    Determinism: counts are exact BIGINTs; every float op is a scalar
    expression over them (k/n ratios, one sqrt) — identical IEEE
    sequence both engines.

    Scale: one user-keyed rollup with map-side combine (first-seen
    date and converted flag in the same pass), a 2-group reduce, a
    1-row statistic.
    """
    ev = table(spark, sf_dir, "events")
    half = ev.groupBy("user_id").agg(
        F.when(
            F.min(F.col("ts").cast("date")) < F.lit("2024-01-16").cast("date"),
            F.lit("first_half"),
        )
        .otherwise(F.lit("second_half"))
        .alias("cohort"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("converted"),
    )
    g = half.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("k"),
    )

    def side(col: str, c: str):
        return F.max(F.when(F.col("cohort") == c, F.col(col)))

    w = g.agg(
        side("n", "first_half").alias("n1"),
        side("k", "first_half").alias("k1"),
        side("n", "second_half").alias("n2"),
        side("k", "second_half").alias("k2"),
    )
    p1 = F.col("k1") * 1.0 / F.col("n1")
    p2 = F.col("k2") * 1.0 / F.col("n2")
    pp = (F.col("k1") + F.col("k2")) * 1.0 / (F.col("n1") + F.col("n2"))
    se = F.sqrt(
        pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return w.select(
        "n1",
        "k1",
        "n2",
        "k2",
        F.expr("CAST(k1 * 1000000 DIV n1 AS BIGINT)").alias("rate1_ppm"),
        F.expr("CAST(k2 * 1000000 DIV n2 AS BIGINT)").alias("rate2_ppm"),
        (F.round((p1 - p2) / se, 4) + 0.0).alias("z_stat"),
    )


@query(
    "q_events_bounce_rate",
    """
    WITH s AS (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(ts) OVER w IS NULL
                     OR epoch(ts) - epoch(LAG(ts) OVER w) > 1800
                    THEN 1 ELSE 0 END AS is_start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
        SELECT user_id, session_seq,
               MIN(ts) AS start_ts,
               CAST(COUNT(*) AS BIGINT) AS n_events
        FROM (SELECT user_id, ts,
                     SUM(is_start) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_seq
              FROM s)
        GROUP BY user_id, session_seq
    )
    SELECT CAST(start_ts AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS bounce_ppm,
           CAST(SUM(n_events) // COUNT(*) AS BIGINT)
               AS events_per_session
    FROM sess
    GROUP BY 1
    ORDER BY day
    """,
)
def q_events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of 30-minute-gap sessions that
    contain exactly one event, plus mean session depth — the
    engagement-quality headline next to the volume metrics (DAU says
    how many came; bounce rate says whether they stayed). Sessions are
    attributed to their START day, so a midnight-spanning session
    counts once.

    Determinism: same sessionization as q_events_sessionize/
    q_events_concurrency (ts, event_id total order); integer counts
    and ppm division.

    Scale: one user-keyed window pass, one session rollup, one per-day
    reduce.
    """
    from ..operators.events import sessionize

    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    sess = (
        sessionize(ev, "user_id", "ts", 30, order_cols=("event_id",))
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("start_ts"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    bounce = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return (
        sess.groupBy(F.col("start_ts").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.sum(bounce).cast("bigint").alias("n_bounces"),
            F.expr(
                "CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)"
                " * 1000000 DIV COUNT(*) AS BIGINT)"
            ).alias("bounce_ppm"),
            F.expr(
                "CAST(SUM(n_events) DIV COUNT(*) AS BIGINT)"
            ).alias("events_per_session"),
        )
        .orderBy("day")
    )
