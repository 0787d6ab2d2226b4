"""Catalog queries for warehouse maintenance operators.

``q_incremental_rollup`` proves the engine's incremental-maintenance
path EXACT: the Spark side folds three separate event batches through
partial_rollup/merge_rollups, and the oracle is the plain one-shot
GROUP BY over the whole table — they must hash-match, i.e. maintaining
the rollup incrementally is indistinguishable from recomputing it.

``q_scd2_user_history`` builds effective-dated dimension history from a
change log, checked row-for-row against a window-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.warehouse import (
    merge_rollups,
    partial_rollup,
    scd2_history,
    zorder_bucket_stats,
    zvalue_sql,
)
from .catalog import query, table

# Batch boundaries for the incremental path (events span Jan 2024).
_CUT1 = "2024-01-20"
_CUT2 = "2024-01-25"


@query(
    "q_incremental_rollup",
    """
    WITH c AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) / 100.0 AS sum_value,
           MIN(cents) / 100.0 AS min_value,
           MAX(cents) / 100.0 AS max_value,
           ((CAST(SUM(cents) AS BIGINT) * 200 + COUNT(*))
               // (2 * COUNT(*))) / 10000.0 AS avg_value
    FROM c
    GROUP BY event_type, day
    ORDER BY event_type, day
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-event-type rollup maintained INCREMENTALLY: history is
    split into three batches (pre-Jan-20, Jan-20..24, Jan-25..end), each
    reduced to a partial rollup, then merged — while the oracle computes
    the same answer in one shot over all rows. Hash-matching proves the
    merge path is exact, the contract that lets a 100 TB deployment fold
    a day's increment into a year's rollup without rescanning the year.

    Scale: each partial is a map-side-combined hash aggregate; the merge
    shuffles |groups| rows (150 here), never base rows. avg is derived
    at read time from the mergeable (sum, count) pair.

    The money column is summed as integer cents and the 4-dp average is
    rounded with integer half-up division — summation order and
    float-tie artifacts can't perturb the output, so incremental vs
    one-shot (and Spark vs DuckDB) agree bit-for-bit (the repo's
    standard tie-free-output discipline).
    """
    ev = (
        table(spark, sf_dir, "events")
        .withColumn("day", F.col("ts").cast("date"))
        .withColumn(
            "cents", F.round(F.col("value") * 100, 0).cast("bigint")
        )
    )
    batches = [
        ev.filter(F.col("ts") < _CUT1),
        ev.filter((F.col("ts") >= _CUT1) & (F.col("ts") < _CUT2)),
        ev.filter(F.col("ts") >= _CUT2),
    ]
    keys = ["event_type", "day"]
    partials = [
        partial_rollup(b, keys, sums=["cents"], mins=["cents"], maxs=["cents"])
        for b in batches
    ]
    merged = merge_rollups(
        partials, keys, sums=["cents"], mins=["cents"], maxs=["cents"]
    )
    return merged.select(
        "event_type",
        "day",
        "n_rows",
        (F.col("sum_cents") / 100.0).alias("sum_value"),
        (F.col("min_cents") / 100.0).alias("min_value"),
        (F.col("max_cents") / 100.0).alias("max_value"),
        (
            F.expr("(sum_cents * 200 + n_rows) div (2 * n_rows)") / 10000.0
        ).alias("avg_value"),
    ).orderBy("event_type", "day")


@query(
    "q_scd2_user_history",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS BIGINT) AS is_current
    FROM changes
    ORDER BY user_id, valid_from
    """,
)
def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 effective-dated history of each user's event-type "state":
    consecutive same-type events collapse into one version; each version
    carries valid_from / valid_to / is_current. The oracle replays the
    exact window logic, so version boundaries match row-for-row.

    Scale: one shuffle on user_id; the collapse window and the lead
    window share partitioning and sort order, so the physical plan runs
    a single Exchange + Sort feeding both Window operators (pinned in
    test_warehouse.py). Per-key memory is one row of look-behind.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    hist = scd2_history(
        ev, key="user_id", attrs=["event_type"], ts_col="ts",
        tiebreak="event_id",
    )
    return hist.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
        F.col("is_current").cast("bigint").alias("is_current"),
    ).orderBy("user_id", "valid_from")


_ZVAL = zvalue_sql("l_partkey", "l_suppkey")


@query(
    "q_zorder_layout",
    f"""
    SELECT ({_ZVAL} >> 12) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(l_partkey) AS min_a, MAX(l_partkey) AS max_a,
           MIN(l_suppkey) AS min_b, MAX(l_suppkey) AS max_b
    FROM lineitem
    GROUP BY 1
    ORDER BY bucket
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit of lineitem on (l_partkey, l_suppkey):
    rows grouped by fixed-width Morton-prefix bucket with each bucket's
    min/max envelope on BOTH keys — the rectangles a z-ordered file
    layout bounds, i.e. why parquet min/max stats would prune scans
    filtered on either column. The interleave is one shared SQL fragment
    evaluated by both engines, so the layout decision itself is
    oracle-checked bit for bit.

    Scale: the z-value is a per-row integer projection (codegen, zero
    cost at scan); the audit is one groupBy on the bucket prefix. A
    z-ordered write (range-repartition on the z-value) adds only a
    range shuffle — the cost of any sorted write.
    """
    li = table(spark, sf_dir, "lineitem")
    return zorder_bucket_stats(li, "l_partkey", "l_suppkey", 12)


def _diff_sql() -> str:
    from .text import _STOP_RATIO

    pred_lang = f"CASE WHEN {_STOP_RATIO} > 0.05 THEN 'en' ELSE 'unknown' END"
    return f"""
    WITH v1 AS (
        SELECT doc_id, text, lang, source FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <> 'f'
    ),
    v2 AS (
        SELECT doc_id, text, {pred_lang} AS lang, source FROM documents
        WHERE {_STOP_RATIO} > 0.05
    ),
    j AS (
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               v1.doc_id IS NOT NULL AS in_old,
               v2.doc_id IS NOT NULL AS in_new,
               concat_ws(',',
                   CASE WHEN v1.text IS DISTINCT FROM v2.text
                        THEN 'text' END,
                   CASE WHEN v1.lang IS DISTINCT FROM v2.lang
                        THEN 'lang' END,
                   CASE WHEN v1.source IS DISTINCT FROM v2.source
                        THEN 'source' END) AS diffcols
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    )
    SELECT doc_id,
           CASE WHEN in_old AND NOT in_new THEN 'removed'
                WHEN in_new AND NOT in_old THEN 'added'
                WHEN diffcols <> '' THEN 'changed'
                ELSE 'unchanged' END AS status,
           CASE WHEN in_old AND in_new THEN diffcols ELSE '' END
               AS changed_columns
    FROM j
    ORDER BY doc_id
    """


@query("q_snapshot_diff", _diff_sql())
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two ingest versions of the corpus:
    v1 excludes the late-arrival slice (md5 tail), v2 applies the
    language filter (drops low-stopword docs) and re-labels ``lang``
    with the heuristic language ID. The diff reports every key as
    added / removed / changed / unchanged with the changed column list
    — the audit artifact a warehouse publishes per ingest without a
    table format's transaction log.

    Scale: one full-outer join on the key (both sides shuffle once;
    bucketed snapshots make it exchange-free); per-column comparison is
    null-safe codegen.
    """
    from ..operators.text import lang_id_expr, stopword_ratio_expr
    from ..operators.warehouse import snapshot_diff

    d = table(spark, sf_dir, "documents")
    v1 = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) != "f"
    ).select("doc_id", "text", "lang", "source")
    v2 = (
        d.filter(stopword_ratio_expr() > 0.05)
        .select(
            "doc_id",
            "text",
            lang_id_expr(stop_ratio=stopword_ratio_expr()).alias("lang"),
            "source",
        )
    )
    diff = snapshot_diff(v1, v2, "doc_id", ["text", "lang", "source"])
    return diff.select(
        "doc_id",
        "status",
        F.array_join("changed_columns", ",").alias("changed_columns"),
    )


def _hilbert_layout_sql() -> str:
    from ..operators.warehouse import hilbert_sql

    inner = hilbert_sql("l_partkey", "l_suppkey", "lineitem")
    return f"""
    SELECT (hval >> 8) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(hx0) AS min_a, MAX(hx0) AS max_a,
           MIN(hy0) AS min_b, MAX(hy0) AS max_b
    FROM ({inner})
    GROUP BY 1
    ORDER BY bucket
    """


@query("q_hilbert_layout", _hilbert_layout_sql())
def q_hilbert_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout audit of lineitem on (l_partkey,
    l_suppkey) low bytes: rows grouped by fixed-width Hilbert-index
    bucket with per-dimension min/max envelopes — the
    locality-preserving sibling of q_zorder_layout. Hilbert ranges are
    always Manhattan-contiguous (no Morton seams), so equal-width index
    buckets bound tighter rectangles and parquet min/max stats prune
    harder for 2-column range predicates.

    The xy→d transform is an integer-only per-level step chain
    generated once and realized as both a Spark column chain and the
    oracle's nested subqueries — every level of every row is
    oracle-checked. Scale: per-row codegen projection + one groupBy on
    the bucket prefix, same as the z-order audit.
    """
    from ..operators.warehouse import with_hilbert_value

    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    h = with_hilbert_value(li, "l_partkey", "l_suppkey")
    return (
        h.select(
            F.expr("hval >> 8").alias("bucket"),
            F.expr("CAST(l_partkey AS BIGINT) & 255").alias("a8"),
            F.expr("CAST(l_suppkey AS BIGINT) & 255").alias("b8"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("a8").alias("min_a"),
            F.max("a8").alias("max_a"),
            F.min("b8").alias("min_b"),
            F.max("b8").alias("max_b"),
        )
        .orderBy("bucket")
    )


@query(
    "q_scd2_point_in_time",
    """
    WITH src AS (
        SELECT user_id, event_type, ts, event_id FROM events
        WHERE event_type <> 'purchase'
    ),
    ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM src
    ),
    hist AS (
        SELECT user_id, event_type AS state, ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM ordered
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT f.event_id, f.user_id, f.ts,
           CAST(round(f.value * 100) AS BIGINT) AS cents,
           h.state, h.valid_from
    FROM events f
    JOIN hist h
      ON f.user_id = h.user_id
     AND f.ts >= h.valid_from
     AND (h.valid_to IS NULL OR f.ts < h.valid_to)
    WHERE f.event_type = 'purchase'
    ORDER BY f.event_id
    """,
)
def q_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: every purchase matched to the SCD2 state
    version (built from the user's non-purchase activity) in effect at
    purchase time — the temporal-join primitive behind "what plan was
    the customer on when they bought". The oracle rebuilds the history
    AND re-derives every fact->version match, so range-boundary
    semantics (inclusive from, exclusive to, open current row) are
    pinned exactly.

    Scale: history is one shuffle on user_id (shared Exchange+Sort);
    the PIT join is an equi-join on user_id with the validity range as
    a residual - per-fact fan-in bounded by the key's version count.
    """
    from ..operators.warehouse import point_in_time_join

    ev = table(spark, sf_dir, "events")
    hist = scd2_history(
        ev.filter(F.col("event_type") != "purchase").select(
            "user_id", "event_type", "ts", "event_id"
        ),
        key="user_id",
        attrs=["event_type"],
        ts_col="ts",
        tiebreak="event_id",
    ).select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    facts = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        point_in_time_join(facts, hist, key="user_id", fact_ts="ts")
        .select("event_id", "user_id", "ts", "cents", "state", "valid_from")
        .orderBy("event_id")
    )


@query(
    "q_changelog_snapshot",
    """
    SELECT user_id, event_type AS latest_type, ts AS latest_ts,
           CAST(round(value * 100) AS BIGINT) AS latest_cents,
           CAST(n_events AS BIGINT) AS n_events
    FROM (
        SELECT user_id, event_type, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events
        FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def q_changelog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog compaction: the latest row per key (ts, then event_id
    as the total-order tiebreak) plus the key's change count — the
    MERGE-free upsert that turns an append-only CDC log into a current
    snapshot, the read side of every keyed ingest.

    Scale: one exchange on the key; the latest-row rank and the count
    share the same partitioning (single Exchange feeding both Window
    operators); per-key state is one row of look-behind, and the
    changelog never joins anything.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    wc = Window.partitionBy("user_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn("n_events", F.count(F.lit(1)).over(wc))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("latest_type"),
            F.col("ts").alias("latest_ts"),
            F.round(F.col("value") * 100).cast("bigint").alias("latest_cents"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("user_id")
    )


# Insert-only snapshot boundary for the incremental-join view.
_DJ_CUT = "1997-06-01"


@query(
    "q_delta_join_view",
    f"""
    WITH j AS (
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               o_orderdate, l_shipdate,
               CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT) AS cents
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    full_v AS (
        SELECT order_month, COUNT(*) AS n, SUM(cents) AS cents
        FROM j GROUP BY 1),
    old_v AS (
        SELECT order_month, COUNT(*) AS n, SUM(cents) AS cents
        FROM j
        WHERE o_orderdate < DATE '{_DJ_CUT}' AND l_shipdate < DATE '{_DJ_CUT}'
        GROUP BY 1)
    SELECT f.order_month,
           CAST(f.n - COALESCE(o.n, 0) AS BIGINT) AS delta_rows,
           CAST(CAST(f.cents - COALESCE(o.cents, 0) AS BIGINT) AS BIGINT)
               / 100.0 AS delta_revenue
    FROM full_v f LEFT JOIN old_v o USING (order_month)
    WHERE f.n - COALESCE(o.n, 0) > 0
    ORDER BY order_month
    """,
)
def q_delta_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental join-view maintenance, proven exact: the engine
    derives the view's delta from the three delta_join terms
    (ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — never old-against-old) and aggregates it
    per order month; the oracle independently computes full-recompute
    MINUS stored-view. Hash-match means appending the maintained delta
    is indistinguishable from re-joining everything.

    Scale: the whole point at 100 TB — every term joins at least one
    delta side, so refresh cost tracks the day's inserts, not the
    stored view; AQE broadcasts the delta scans into the snapshots.
    Money flows as integer cents (engine-exact sums).
    """
    from ..operators.warehouse import delta_join

    cut = F.lit(_DJ_CUT).cast("date")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_orderdate"
    )
    l = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        "l_shipdate",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
        )
        .cast("bigint")
        .alias("cents"),
    )
    delta = delta_join(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        l.filter(F.col("l_shipdate") < cut),
        l.filter(F.col("l_shipdate") >= cut),
        on="okey",
    )
    return (
        delta.groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("delta_rows"),
            (F.sum("cents").cast("bigint") / 100.0).alias("delta_revenue"),
        )
        .filter(F.col("delta_rows") > 0)
    )


PRUNE_LO, PRUNE_HI = 40, 71
PRUNE_WIDTH = 192  # curve cells per file; NOT a power of 4 (see operator)


def _layout_pruning_sql() -> str:
    from ..operators.warehouse import hilbert_sql, zvalue_sql

    base = (
        "SELECT (CAST(l_partkey AS BIGINT) & 255) AS a8, "
        "(CAST(l_suppkey AS BIGINT) & 255) AS b8, "
        "CAST(l_orderkey AS BIGINT) AS ok FROM lineitem"
    )
    hil = hilbert_sql("a8", "b8", f"({base})")
    zv = zvalue_sql("a8", "b8")
    lo, hi = PRUNE_LO, PRUNE_HI
    PRUNE_WIDTH_ = PRUNE_WIDTH
    return f"""
    WITH mo AS (SELECT MAX(CAST(l_orderkey AS BIGINT)) AS m FROM lineitem),
    long AS (
        SELECT 'hilbert' AS layout, hval // {PRUNE_WIDTH_} AS bucket,
               a8, b8
        FROM ({hil})
        UNION ALL
        SELECT 'zorder' AS layout, ({zv}) // {PRUNE_WIDTH_} AS bucket,
               a8, b8
        FROM ({base})
        UNION ALL
        SELECT 'natural' AS layout, ok * 256 // (mo.m + 1) AS bucket,
               a8, b8
        FROM ({base}) CROSS JOIN mo
    ),
    stats AS (
        SELECT layout, bucket, COUNT(*) AS n,
               MIN(a8) AS min_a, MAX(a8) AS max_a,
               MIN(b8) AS min_b, MAX(b8) AS max_b,
               SUM(CASE WHEN a8 BETWEEN {lo} AND {hi}
                         AND b8 BETWEEN {lo} AND {hi}
                   THEN 1 ELSE 0 END) AS nm
        FROM long GROUP BY 1, 2
    )
    SELECT layout,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(CASE WHEN min_a <= {hi} AND max_a >= {lo}
                          AND min_b <= {hi} AND max_b >= {lo}
                    THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
           CAST(SUM(n) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN min_a <= {hi} AND max_a >= {lo}
                          AND min_b <= {hi} AND max_b >= {lo}
                    THEN n ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(SUM(nm) AS BIGINT) AS rows_match,
           CAST(SUM(CASE WHEN min_a <= {hi} AND max_a >= {lo}
                          AND min_b <= {hi} AND max_b >= {lo}
                    THEN n ELSE 0 END) * 1000000 // SUM(n) AS BIGINT)
               AS scan_ppm
    FROM stats
    GROUP BY layout
    ORDER BY layout
    """


@query("q_layout_pruning", _layout_pruning_sql())
def q_layout_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustered-write business case, measured: for one 2-D range
    predicate (both low bytes of (l_partkey, l_suppkey) in [40, 71] —
    1/64 of the key space, deliberately unaligned to curve quadrants),
    how many fixed-width "files" each physical layout forces a
    min/max-skipping reader to scan. Natural (insertion-order) files
    have full-range envelopes on both columns → zero skipping
    (scan_ppm = 10⁶); the space-filling curves prune to a few percent,
    and Hilbert beats Z-order (11 vs 13 files, 4,888 vs 5,775 rows at
    sf0.01) because its unit-step contiguity has no Morton seams —
    visible only because the file width (192 cells) is not a power of
    4, which would make the two curves' buckets identical square
    tiles. scan_ppm is the fraction of the table actually read — the
    number that decides whether the sorted write is worth its range
    shuffle.

    Scale (operators/warehouse.layout_pruning_audit): all three bucket
    ids are codegen bit-algebra on one scan; one shuffle to 3×256
    envelope groups; 3-row result. The audit costs a single pass no
    matter the table size — run it before committing a layout policy.
    """
    from ..operators.warehouse import layout_pruning_audit

    li = table(spark, sf_dir, "lineitem")
    return layout_pruning_audit(
        li, "l_partkey", "l_suppkey", "l_orderkey", PRUNE_LO, PRUNE_HI,
        bucket_width=PRUNE_WIDTH,
    )


@query(
    "q_scd2_apply",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS prev
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS valid_to,
           CAST(LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL AS BIGINT) AS is_current
    FROM changes
    ORDER BY user_id, valid_from
    """,
)
def q_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance, hash-proven exact: the history is
    built from the pre-Jan-25 change log, then the Jan-25-onward batch
    is APPLIED (operators/warehouse.scd2_apply) — closed versions pass
    through untouched, only affected keys' open versions plus their
    delta rows re-enter the window — and the result must equal the
    oracle's full rebuild over the entire log, version boundary for
    version boundary. This is the per-ingest cost model a dimension
    table needs at 100 TB: each batch costs the batch, not the
    history.

    Scale: see scd2_apply — delta-keyed shuffle + touched-slice
    window; the full-history pass exists only on the oracle side.
    """
    from ..operators.warehouse import scd2_apply

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    v1 = ev.filter(F.col("ts") < _CUT2)
    delta = ev.filter(F.col("ts") >= _CUT2)
    hist1 = scd2_history(
        v1, key="user_id", attrs=["event_type"], ts_col="ts",
        tiebreak="event_id",
    )
    applied = scd2_apply(
        hist1, delta, key="user_id", attrs=["event_type"], ts_col="ts",
        tiebreak="event_id",
    )
    return applied.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
        F.col("is_current").cast("bigint").alias("is_current"),
    ).orderBy("user_id", "valid_from")
