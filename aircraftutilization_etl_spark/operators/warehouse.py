"""Warehouse maintenance operators: mergeable rollups and SCD2 history.

Two patterns every 100 TB analytics store needs and the reference's
Mongo time-series sink only gestures at (reference
``src/plugins/scripts/complete_flights/db.py:42-79`` appends hourly
buckets but can never re-aggregate them):

- **Incremental rollup maintenance** — keep an aggregate table fresh by
  folding in only the new increment, never rescanning history. Works
  for any *mergeable* measure set (count/sum/min/max; avg derived at
  read time as sum/count). The merge is
  ``union(partial_state, partial_of_increment) -> re-aggregate`` — one
  shuffle sized by |groups| + |increment groups|, independent of how
  many base rows history holds. This is the same re-aggregability
  contract as the sketch rollups (plans/sketches.py), for exact
  measures.

- **SCD2 (slowly-changing-dimension type 2) history** — turn a change
  log into effective-dated rows (valid_from / valid_to / is_current),
  collapsing consecutive no-op changes first. One shuffle on the
  business key; both window passes share that partitioning and sort
  order, so Catalyst plans a single Exchange + single Sort.

Scale properties are stated per function; everything is pure JVM
(whole-stage codegen), zero UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def partial_rollup(
    df: DataFrame,
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """Aggregate ``df`` to one row per ``keys`` with mergeable measures.

    Output columns: ``keys..., n_rows, sum_<c>, min_<c>, max_<c>``.
    The result can be merged with any other partial rollup of the same
    shape via :func:`merge_rollups` without loss — the defining property
    that makes incremental maintenance exact.

    Scale: one hash-aggregate shuffle on ``keys`` with map-side partial
    aggregation, so shuffle volume is |distinct keys per task|, not
    |rows|.
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sums]
    aggs += [F.min(c).alias(f"min_{c}") for c in mins]
    aggs += [F.max(c).alias(f"max_{c}") for c in maxs]
    return df.groupBy(*keys).agg(*aggs)


def merge_rollups(
    states: Sequence[DataFrame],
    keys: Sequence[str],
    sums: Sequence[str] = (),
    mins: Sequence[str] = (),
    maxs: Sequence[str] = (),
) -> DataFrame:
    """Merge partial rollups (same shape, from :func:`partial_rollup`)
    into one consistent aggregate — the incremental-maintenance step.

    Counts and sums re-add; mins/maxs re-min/max. The union is a
    zero-cost narrow op; the only shuffle is the final re-aggregate,
    sized by the number of *groups* touched, never by base-table rows —
    folding a day's increment into a year's rollup costs the increment,
    not the year.
    """
    if not states:
        raise ValueError("merge_rollups needs at least one state")
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    aggs = [F.sum("n_rows").alias("n_rows")]
    aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sums]
    aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in mins]
    aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in maxs]
    return merged.groupBy(*keys).agg(*aggs)


def scd2_history(
    df: DataFrame,
    key: str,
    attrs: Sequence[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Effective-dated type-2 history from a change log.

    ``df`` holds one row per observed (key, attrs) state at ``ts_col``;
    ``tiebreak`` makes the event order total (e.g. an event id), so the
    output is deterministic under any partitioning. Consecutive rows
    whose ``attrs`` are unchanged are collapsed into the earlier row
    (no-op changes don't open a new version). Output adds:

    - ``valid_from`` — the change timestamp,
    - ``valid_to`` — next change's timestamp (NULL for the live row),
    - ``is_current`` — ``valid_to IS NULL``.

    Scale: one shuffle on ``key``; the dedup window and the lead window
    use the same partitioning and ordering, so the plan has a single
    Exchange + Sort reused by both Window operators. Per-key state is a
    single previous row — no buffering of whole partitions beyond the
    sort itself.
    """
    if not attrs:
        raise ValueError("scd2_history needs at least one tracked attribute")
    w = Window.partitionBy(key).orderBy(ts_col, tiebreak)
    # NULL attribute values compare via null-safe equality; a key's
    # first row (lag is undefined) always opens a version
    diff = F.lit(False)
    for a in attrs:
        diff = diff | ~F.lag(a).over(w).eqNullSafe(F.col(a))
    change_flag = (F.row_number().over(w) == 1) | diff
    changed = df.withColumn("__is_change", change_flag).filter("__is_change")
    # same partitioning+ordering as w: Catalyst reuses the one
    # Exchange+Sort for both Window operators (pinned in tests)
    return (
        changed.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop("__is_change")
    )


# --- Z-order data layout -------------------------------------------------
#
# At 100 TB, which rows share a file decides how much a selective scan
# reads: parquet row-group min/max stats prune only if rows with nearby
# key values are physically adjacent. Sorting clusters one column at the
# expense of all others; interleaving the bits of two keys (a Morton /
# Z-curve value) bounds every file to a RECTANGLE in (a, b) space, so
# predicates on EITHER dimension prune. The z-value is pure integer bit
# math, identical in any engine — the layout decision is auditable SQL.

_Z_BITS = 16
_Z_MASK = (1 << _Z_BITS) - 1


def zvalue_sql(a: str, b: str) -> str:
    """SQL fragment for the 32-bit Morton interleave of two 16-bit
    (masked) integer expressions — ``a``'s bits land in the even
    positions, ``b``'s in the odd. The same text parses in Spark SQL and
    DuckDB (magic-number spread shifts; verified bit-identical), which
    is what lets the DuckDB oracle replay the layout exactly.
    """

    def spread(x: str) -> str:
        s = f"(({x} | ({x} << 8)) & 16711935)"
        s = f"(({s} | ({s} << 4)) & 252645135)"
        s = f"(({s} | ({s} << 2)) & 858993459)"
        return f"(({s} | ({s} << 1)) & 1431655765)"

    am = f"(CAST({a} AS BIGINT) & {_Z_MASK})"
    bm = f"(CAST({b} AS BIGINT) & {_Z_MASK})"
    return f"({spread(am)} | ({spread(bm)} << 1))"


def with_zvalue(
    df: DataFrame, col_a: str, col_b: str, out: str = "zval"
) -> DataFrame:
    """Attach the Morton z-value of two integer columns (16 bits each)."""
    return df.withColumn(out, F.expr(zvalue_sql(col_a, col_b)))


def zorder_bucket_stats(
    df: DataFrame, col_a: str, col_b: str, bucket_shift: int = 24
) -> DataFrame:
    """Layout audit: group rows by fixed-width z-prefix bucket
    (``zval >> bucket_shift``) and report each bucket's row count and
    per-dimension min/max envelope — the rectangles a z-ordered file
    layout would bound. Fixed-width buckets (not sampled ranges) keep
    the audit deterministic and SQL-replayable.
    """
    z = with_zvalue(df, col_a, col_b)
    return z.groupBy(
        F.expr(f"zval >> {bucket_shift}").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(col_a).alias("min_a"),
        F.max(col_a).alias("max_a"),
        F.min(col_b).alias("min_b"),
        F.max(col_b).alias("max_b"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Keyed diff of two table snapshots → one row per key present in
    either, with ``status`` ∈ {added, removed, changed, unchanged} and
    the list of changed columns — the change-data-capture primitive a
    warehouse emits between ingest versions (Delta CDF / audit-diff
    shape) without needing a table format's transaction log.

    Null-safe per-column comparison (``eqNullSafe``: null==null is
    unchanged, null→value is a change). One full-outer join on the key
    is the whole cost — both sides shuffle once; at 100 TB co-located
    or bucketed snapshots make it exchange-free.
    """
    o = old.select(key_col, *compare_cols).alias("o")
    n = new.select(key_col, *compare_cols).alias("n")
    joined = o.join(n, F.col(f"o.{key_col}") == F.col(f"n.{key_col}"), "full_outer")
    in_old = F.col(f"o.{key_col}").isNotNull()
    in_new = F.col(f"n.{key_col}").isNotNull()
    changed_cols = F.filter(
        F.array(
            *[
                F.when(
                    ~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        ),
        lambda x: x.isNotNull(),
    )
    status = (
        F.when(in_old & ~in_new, F.lit("removed"))
        .when(~in_old & in_new, F.lit("added"))
        .when(F.size(changed_cols) > 0, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(
        F.coalesce(F.col(f"o.{key_col}"), F.col(f"n.{key_col}")).alias(
            key_col
        ),
        status.alias("status"),
        F.when(status == "changed", changed_cols)
        .otherwise(F.array().cast("array<string>"))
        .alias("changed_columns"),
    )


HILBERT_BITS = 8  # 256x256 grid -> 16-bit Hilbert index
_H_MASK = (1 << HILBERT_BITS) - 1


def hilbert_steps(a: str, b: str) -> list[tuple[str, str]]:
    """The Hilbert xy→d transform as a list of (column, SQL expression)
    assignments — one integer-only step chain both engines evaluate
    identically (each level references the PREVIOUS level's columns, so
    expression size stays constant per level instead of doubling).

    Algorithm: the standard bitwise xy2d walk — per level s (high bit
    down): quadrant cell = gray-coded (rx, ry) contributes s²·cell to
    the index, then the lower-order subsquare is rotated/reflected into
    canonical orientation. Validated by the bijection + unit-step
    adjacency property (tests/test_warehouse.py) — the two properties
    that characterize a Hilbert curve.
    """
    steps: list[tuple[str, str]] = [
        ("hx0", f"CAST({a} AS BIGINT) & {_H_MASK}"),
        ("hy0", f"CAST({b} AS BIGINT) & {_H_MASK}"),
        ("hd0", "CAST(0 AS BIGINT)"),
    ]
    level = 0
    s = 1 << (HILBERT_BITS - 1)
    while s > 0:
        x, y, d = f"hx{level}", f"hy{level}", f"hd{level}"
        rx = f"(CASE WHEN ({x} & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN ({y} & {s}) > 0 THEN 1 ELSE 0 END)"
        cell = (
            f"(CASE WHEN {rx} = 0 AND {ry} = 0 THEN 0 "
            f"WHEN {rx} = 0 AND {ry} = 1 THEN 1 "
            f"WHEN {rx} = 1 AND {ry} = 1 THEN 2 "
            f"ELSE 3 END)"
        )
        steps.append((f"hd{level + 1}", f"{d} + {s * s} * {cell}"))
        steps.append(
            (
                f"hx{level + 1}",
                f"CASE WHEN {ry} = 1 THEN {x} "
                f"WHEN {rx} = 1 THEN {s - 1} - {y} ELSE {y} END",
            )
        )
        steps.append(
            (
                f"hy{level + 1}",
                f"CASE WHEN {ry} = 1 THEN {y} "
                f"WHEN {rx} = 1 THEN {s - 1} - {x} ELSE {x} END",
            )
        )
        level += 1
        s >>= 1
    steps.append(("hval", f"hd{level}"))
    return steps


def with_hilbert_value(
    df: DataFrame, col_a: str, col_b: str, out: str = "hval"
) -> DataFrame:
    """Attach the Hilbert index of two integer columns (low
    ``HILBERT_BITS`` bits each) — the locality-preserving alternative to
    ``with_zvalue``: consecutive index values are always
    Manhattan-adjacent cells, so fixed-width index ranges bound TIGHTER
    rectangles than a z-order prefix (no Morton "seams")."""
    cur = df
    for name, expr in hilbert_steps(col_a, col_b):
        cur = cur.withColumn(name, F.expr(expr))
    keep = [c for c in df.columns] + [out]
    return cur.withColumn(out, F.col("hval")).select(*keep)


def hilbert_sql(a: str, b: str, source: str) -> str:
    """Nested-subquery SQL deriving ``hval`` over ``source`` from the
    SAME step chain the Spark column chain uses — one generator, two
    realizations, so the oracle replays every level bit for bit."""
    query = f"SELECT * FROM {source}"
    for name, expr in hilbert_steps(a, b):
        query = f"SELECT *, {expr} AS {name} FROM ({query})"
    return query


def point_in_time_join(
    facts: DataFrame,
    dim_history: DataFrame,
    key: str,
    fact_ts: str,
) -> DataFrame:
    """Join facts to the dimension version in effect at fact time — the
    point-in-time (a.k.a. temporal / PIT) join every SCD2 dimension
    exists to answer. A fact at ``t`` matches the version with
    ``valid_from <= t < valid_to`` (open-ended current row: NULL
    valid_to). Inner join: facts before the key's first version drop.

    Scale: an equi-join on ``key`` with the validity range as a join
    residual — one exchange per side (or zero, bucketed/co-located),
    and the per-row fan-in is bounded by that key's version count, the
    quantity SCD2 already keeps small by collapsing no-op changes. This
    beats the union+last_value as-of reformulation when version chains
    are shallow (the SCD2 norm) because it reuses the join partitioning
    and never re-sorts the fact stream.
    """
    f = facts.alias("f")
    d = dim_history.alias("d")
    cond = (
        (F.col(f"f.{key}") == F.col(f"d.{key}"))
        & (F.col(f"f.{fact_ts}") >= F.col("d.valid_from"))
        & (
            F.col("d.valid_to").isNull()
            | (F.col(f"f.{fact_ts}") < F.col("d.valid_to"))
        )
    )
    return f.join(d, cond, "inner").select(
        "f.*",
        *[
            F.col(f"d.{c}").alias(c)
            for c in dim_history.columns
            if c != key
        ],
    )


def delta_join(
    a_old: DataFrame,
    a_delta: DataFrame,
    b_old: DataFrame,
    b_delta: DataFrame,
    on: str | Sequence[str],
) -> DataFrame:
    """Incremental maintenance of an inner-join view under insert-only
    deltas: the NEW rows of ``A ⋈ B`` after appending ``a_delta`` /
    ``b_delta`` are exactly

        Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (each term disjoint: old×new, new×old, new×new). Appending this
    delta to the stored view equals the full recompute — without ever
    re-joining old-against-old.

    This is the join-view sibling of partial_rollup/merge_rollups: at
    100 TB the stored view is corpus-sized but a day's delta is not,
    and every term above joins at least one DELTA side — so AQE
    broadcasts the delta into the snapshot scan and the view refresh
    costs O(|Δ| + matched rows), not O(|A| + |B|). The classic
    incremental-view-maintenance counting algebra (insert-only case);
    deletes would carry signed multiplicities through the same terms.
    """
    return (
        a_delta.join(b_old, on=on)
        .unionByName(a_old.join(b_delta, on=on))
        .unionByName(a_delta.join(b_delta, on=on))
    )


def layout_pruning_audit(
    df: DataFrame,
    col_a: str,
    col_b: str,
    order_col: str,
    lo: int,
    hi: int,
    bucket_width: int = 192,
) -> DataFrame:
    """Head-to-head file-skipping audit of three physical layouts —
    natural (insertion order), Z-order, Hilbert — for one 2-D range
    predicate ``lo <= a8 <= hi AND lo <= b8 <= hi`` over the low bytes
    of (``col_a``, ``col_b``). Every layout is cut into fixed-width
    "files" (``bucket_width`` curve cells per file; 256
    equal key-range chunks for the natural layout). The width is
    deliberately NOT a power of 4: power-of-4 prefixes make Morton and
    Hilbert buckets the IDENTICAL aligned square tiles, hiding exactly
    the seam behavior the audit exists to measure — off-alignment,
    Hilbert's unit-step contiguity bounds tighter envelopes than
    Morton's quadrant jumps. A file must be scanned when its
    per-dimension min/max envelope overlaps the predicate box — exactly
    the parquet/Iceberg min-max skipping rule. Output, one row per
    layout: bucket and row totals, buckets/rows actually scanned,
    matching rows, and scan_ppm (rows scanned / rows total) — the
    number that justifies paying the clustered-write sort: natural
    order scans ~everything, Z-order prunes to the curve's seams,
    Hilbert prunes hardest.

    Natural "files" are contiguous ranges of the insertion key
    (``order_col``'s keyspace cut into 256 equal-width chunks — the
    deterministic stand-in for arrival-order file boundaries).

    All arithmetic is integer (bit ops, DIV); determinism is total.
    Scale: one scan computes all three bucket ids as codegen
    projections; the map-exploded long table shuffles once to
    3×256-bucket envelopes; the rollup is 3 rows.
    """
    a8 = f"(CAST({col_a} AS BIGINT) & 255)"
    b8 = f"(CAST({col_b} AS BIGINT) & 255)"
    base = (
        df.select(
            F.expr(a8).alias("a8"),
            F.expr(b8).alias("b8"),
            F.col(order_col).cast("bigint").alias("__ok"),
        )
    )
    zed = with_zvalue(base, "a8", "b8", out="__zv")
    hil = with_hilbert_value(zed, "a8", "b8", out="__hv")
    mo = base.agg(F.max("__ok").alias("__mo"))
    long = (
        hil.crossJoin(F.broadcast(mo))
        .select(
            "a8",
            "b8",
            F.explode(
                F.create_map(
                    F.lit("natural"),
                    F.expr("__ok * 256 DIV (__mo + 1)"),
                    F.lit("zorder"),
                    F.expr(f"__zv DIV {bucket_width}"),
                    F.lit("hilbert"),
                    F.expr(f"__hv DIV {bucket_width}"),
                )
            ).alias("layout", "bucket"),
        )
    )
    match = (
        F.col("a8").between(lo, hi) & F.col("b8").between(lo, hi)
    ).cast("long")
    stats = long.groupBy("layout", "bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("a8").alias("min_a"),
        F.max("a8").alias("max_a"),
        F.min("b8").alias("min_b"),
        F.max("b8").alias("max_b"),
        F.sum(match).alias("nm"),
    )
    touched = (
        (F.col("min_a") <= hi)
        & (F.col("max_a") >= lo)
        & (F.col("min_b") <= hi)
        & (F.col("max_b") >= lo)
    )
    return (
        stats.groupBy("layout")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.sum(touched.cast("long")).cast("bigint").alias(
                "buckets_touched"
            ),
            F.sum("n").cast("bigint").alias("rows_total"),
            F.sum(F.when(touched, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
            F.sum("nm").cast("bigint").alias("rows_match"),
        )
        .select(
            "layout",
            "n_buckets",
            "buckets_touched",
            "rows_total",
            "rows_scanned",
            "rows_match",
            F.expr(
                "CAST(rows_scanned * 1000000 DIV rows_total AS BIGINT)"
            ).alias("scan_ppm"),
        )
        .orderBy("layout")
    )


def scd2_apply(
    history: DataFrame,
    delta: DataFrame,
    key: str,
    attrs: Sequence[str],
    ts_col: str,
    tiebreak: str,
) -> DataFrame:
    """Incrementally fold a change-log ``delta`` into an existing SCD2
    ``history`` (output shape of :func:`scd2_history`) — the
    MERGE-free maintenance step a dimension table runs per ingest
    batch instead of rebuilding its whole history.

    Contract (the streaming reality this is built for): inserts only,
    and every delta row is later than every history row of its key —
    late/out-of-order arrivals belong in a watermark buffer upstream,
    not here.

    How it stays incremental: closed versions can never change under
    the append-only contract, so they pass through untouched. Only
    each affected key's OPEN version (re-seeded as a pseudo-change at
    its original valid_from) plus its delta rows are re-run through
    the scd2_history window — cost ∝ |delta| + |affected open
    versions|, never |history|. Applying batch B to history(E) equals
    scd2_history(E ∪ B) exactly; the catalog query hash-proves it
    against the full-rebuild oracle.

    Scale: one shuffle of the delta on ``key`` (the semi/anti joins
    against open versions broadcast the affected-key set when it is
    batch-sized); the recompute window sorts only the touched slice.
    """
    cols = [key, *attrs, ts_col, tiebreak]
    open_rows = history.filter(F.col("is_current"))
    closed = history.filter(~F.col("is_current"))
    affected = delta.select(key).distinct()
    seed = open_rows.join(affected, key, "left_semi").select(*cols)
    seg_input = seed.unionByName(delta.select(*cols))
    recomputed = scd2_history(seg_input, key, attrs, ts_col, tiebreak)
    untouched_open = open_rows.join(affected, key, "left_anti")
    return (
        closed.unionByName(untouched_open)
        .unionByName(recomputed.select(*closed.columns))
    )
