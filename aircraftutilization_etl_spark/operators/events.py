"""Event-stream operators: sessionization, range joins and time-series
rollups.

These are the reusable batch forms of the reference's hand-rolled
stateful stream concepts (SURVEY.md §2.9): session assembly with a gap
timeout (F1), bucketed range joins, resampling, EWMA, OHLC bars,
attribution, co-occurrence and CUSUM change detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .distribute import scan_spread_width


def sessionize(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    gap_minutes: int,
    order_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gaps-and-islands session assignment: adds ``session_seq`` (1-based
    per key), a new session starting whenever the gap to the previous
    event exceeds ``gap_minutes``.

    Scale: both windows share one (key → ts) partitioning — a single
    shuffle; the running SUM is computed in the same sort pass.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, *order_cols)
    gap_us = gap_minutes * 60 * 1_000_000
    prev_ts = F.lag(ts_col).over(w)
    is_start = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col(ts_col)) - F.unix_micros(prev_ts) > gap_us),
        1,
    ).otherwise(0)
    flagged = df.withColumn("__is_start", is_start)
    return flagged.withColumn(
        "session_seq",
        F.sum("__is_start").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    ).drop("__is_start")


def range_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    window_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
) -> DataFrame:
    """Interval join: all (left, right) pairs with the same key whose
    timestamps lie within ``window_seconds`` of each other.

    Spark plans a bare |l.ts − r.ts| ≤ w condition as a nested-loop/
    cartesian per key — quadratic in hot keys. Bucketizing converts it
    to an equi-join: time is cut into window-sized buckets, the left
    side explodes into its 3 candidate buckets (previous/own/next), the
    join runs on (key, bucket), and the exact window predicate filters
    the survivors. Cost is the equi-join on (key, bucket) — partition-
    local, shuffle on a composite key, no pair explosion beyond
    same-bucket candidates.
    """
    width = F.lit(window_seconds)
    l_bucket = F.floor(F.unix_micros(F.col(left_ts)) / (width * 1_000_000))
    r_bucket = F.floor(F.unix_micros(F.col(right_ts)) / (width * 1_000_000))
    l = left.withColumn(
        "__bucket",
        F.explode(F.array(l_bucket - 1, l_bucket, l_bucket + 1)),
    )
    r = right.withColumn("__bucket", r_bucket)
    lt = F.unix_micros(l[left_ts])
    rt = F.unix_micros(r[right_ts])
    joined = l.join(r, [on, "__bucket"]).filter(
        (rt >= lt - width * 1_000_000) & (rt <= lt + width * 1_000_000)
    )
    return joined.drop("__bucket")


def cooccurrence_pairs(df: DataFrame, key: str, item: str) -> DataFrame:
    """Item co-occurrence counts: for every unordered pair of distinct
    items observed under the same key, the number of keys exhibiting
    both — the recsys/feature-mining primitive (users co-clicking, docs
    co-citing).

    Shape: ONE shuffle on the key collapses each key to its distinct
    item set (map-side partial aggregation dedupes before the wire, so
    a key with a million events but 5 distinct items ships ~5 values,
    not 10^6); pairs are then generated map-side by a double explode
    over the sorted set (``item_b > item_a`` canonicalizes and halves
    the output) and counted with one more shuffle on the pair. Compare
    the naive distinct + self-join, which costs four exchanges and a
    sort-merge join. Per-key cost is |vocabulary|^2 — the inherent
    output size — never |events|^2.
    """
    sets = df.groupBy(key).agg(
        F.sort_array(F.collect_set(item)).alias("__items")
    )
    # Spread the pair explode when the input is small (r12): the
    # per-key sets are tiny in BYTES, so AQE's byte-based coalescing
    # folds the post-aggregation side to ONE partition — and the
    # |vocabulary|² pair explode (the expensive per-row kernel) then
    # runs single-task (profiled: ~1 s single-task stages inside
    # q_graph_pagerank). The spread is sized by the INPUT's scans: at
    # corpus scale the post-shuffle side is already wide and no extra
    # exchange is added, preserving the map-side partial aggregation
    # contract above untouched either way.
    width = scan_spread_width(df)
    if width is not None:
        sets = sets.repartition(width, F.col(key))
    lhs = sets.select(F.explode("__items").alias("item_a"), "__items")
    pairs = lhs.select(
        "item_a",
        F.explode(F.expr("filter(__items, x -> x > item_a)")).alias(
            "item_b"
        ),
    )
    return pairs.groupBy("item_a", "item_b").agg(
        F.count(F.lit(1)).alias("n_keys")
    )


def resample_ffill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Regularize an irregular event series onto an hourly grid with
    forward-fill — the hypertable/time-series 'resample + locf' op:
    one row per (key, bucket) from the key's first to last active
    bucket, carrying the most recent observed value at or before that
    bucket (null until the first observation).

    Per (key, bucket) the observed value is that of the LAST event in
    the bucket — max_by over (ts, tiebreak) — so the result is
    insertion-order- and partitioning-independent (``tiebreak_col``
    must be unique per row; the event id).

    Output: (key, bucket_ts, value_ffill, is_observed).

    Scale — ONE exchange for the whole op, and no join: instead of
    building a grid and joining observations back (whose sort-merge
    join would reshuffle both sides on the full (key, bucket) pair —
    requireAllClusterKeysForCoPartition), each observed bucket emits
    ITSELF plus its trailing gap rows: lead() gives the next observed
    bucket, sequence()+explode generates [bucket, next - 1 hour] carrying
    the observed value — so locf holds by construction with no second
    pass. The source is repartitioned on the key once; the per-bucket
    max_by aggregation and the lead window both ride that partitioning,
    and the explode is map-side. Per-key work is bounded by the key's
    active span in hours; gap rows are generated, never stored or
    shuffled.
    """
    bucket = F.date_trunc("hour", F.col(ts_col))
    src = df.repartition(F.col(key_col))
    obs = src.groupBy(F.col(key_col), bucket.alias("__b")).agg(
        F.max_by(
            F.col(value_col),
            F.struct(F.col(ts_col), F.col(tiebreak_col)),
        ).alias("__v")
    )
    w = Window.partitionBy(key_col).orderBy("__b")
    stopped = obs.withColumn(
        "__stop",
        F.coalesce(
            F.lead("__b").over(w) - F.expr("INTERVAL 1 hour"), F.col("__b")
        ),
    )
    filled = stopped.select(
        key_col,
        "__b",
        "__v",
        F.explode(
            F.sequence("__b", "__stop", F.expr("INTERVAL 1 hour"))
        ).alias("bucket_ts"),
    )
    return filled.select(
        key_col,
        "bucket_ts",
        F.col("__v").alias("value_ffill"),
        (F.col("bucket_ts") == F.col("__b")).cast("int").alias("is_observed"),
    )


def resample_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Resample + LINEAR interpolation — the second hypertable gap-fill
    mode next to resample_ffill's locf: gap buckets between two
    observations carry the linearly interpolated value
    ``prev + (next - prev) · elapsed/gap_span`` instead of the held one.

    Same one-exchange, no-join shape as resample_ffill: each observed
    bucket emits itself plus its trailing gap rows via lead() +
    sequence()/explode — but here the lead carries the NEXT observation's
    value too, so every gap row knows both interpolation endpoints by
    construction. Rounded to 4dp at the edge (the arithmetic itself is
    order-fixed: (next-prev)·elapsed/span, integer second deltas).

    Output: (key, bucket_ts, value_interp, is_observed).
    """
    bucket = F.date_trunc("hour", F.col(ts_col))
    src = df.repartition(F.col(key_col))
    obs = src.groupBy(F.col(key_col), bucket.alias("__b")).agg(
        F.max_by(
            F.col(value_col),
            F.struct(F.col(ts_col), F.col(tiebreak_col)),
        ).alias("__v")
    )
    w = Window.partitionBy(key_col).orderBy("__b")
    nxt = obs.select(
        key_col,
        "__b",
        "__v",
        F.lead("__b").over(w).alias("__nb"),
        F.lead("__v").over(w).alias("__nv"),
    )
    stopped = nxt.withColumn(
        "__stop",
        F.coalesce(
            F.col("__nb") - F.expr("INTERVAL 1 hour"), F.col("__b")
        ),
    )
    filled = stopped.select(
        key_col,
        "__b",
        "__v",
        "__nb",
        "__nv",
        F.explode(
            F.sequence("__b", "__stop", F.expr("INTERVAL 1 hour"))
        ).alias("bucket_ts"),
    )
    elapsed = F.unix_timestamp("bucket_ts") - F.unix_timestamp("__b")
    span = F.unix_timestamp("__nb") - F.unix_timestamp("__b")
    interp = F.when(F.col("bucket_ts") == F.col("__b"), F.col("__v")).otherwise(
        F.col("__v") + (F.col("__nv") - F.col("__v")) * elapsed / span
    )
    return filled.select(
        key_col,
        "bucket_ts",
        # no edge rounding: the interpolation arithmetic is order-fixed
        # (identical IEEE ops both engines), and decimal rounding of
        # midpoints is the one place Spark (shortest-repr HALF_UP) and
        # DuckDB (binary) genuinely disagree
        interp.alias("value_interp"),
        (F.col("bucket_ts") == F.col("__b")).cast("int").alias("is_observed"),
    )


EWMA_ALPHA = 0.25  # dyadic, so alpha and 1 - alpha are exact doubles


def ewma(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """Per-key exponential moving average with alpha = ``EWMA_ALPHA``
    (adjust-free recurrence: y_0 = x_0,
    y_t = (1-alpha)*y_{t-1} + alpha*x_t) — the smoothing primitive
    behind rate limiting, anomaly baselines, and metric dashboards,
    inherently sequential per key.

    The recurrence evaluates as literally ``(1-alpha)*prev + alpha*x``
    in float64, in (ts, tiebreak) order — the exact op sequence the
    recursive-CTE oracle replays, so IEEE determinism makes results
    bit-identical across engines (pandas' own ``ewm`` is NOT used: its
    internal op order is an implementation detail).

    Scale: one shuffle on the key + one sort within each partition,
    then a SINGLE linear mapInPandas pass per partition — NOT
    applyInPandas, which materializes a pandas frame per key and whose
    per-group overhead dominates when keys are many and small (the
    common case: millions of users, dozens of rows each). Keys are
    contiguous in the partition-sorted order; the smoother resets at
    key changes and carries (last_key, last_ewma) across Arrow batch
    boundaries, so batch slicing never splits a recurrence.
    """
    one_minus = 1.0 - EWMA_ALPHA
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", ewma double"

    def _smooth(batches):
        last_key, last_val = object(), 0.0  # sentinel: matches no key
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf[key].to_numpy()
            vals = pdf[value_col].to_numpy(dtype="float64")
            out = vals.copy()
            for i in range(len(out)):
                if keys[i] == last_key:
                    out[i] = one_minus * last_val + EWMA_ALPHA * vals[i]
                last_key, last_val = keys[i], out[i]
            pdf = pdf.copy()
            pdf["ewma"] = out
            yield pdf

    return (
        df.repartition(F.col(key))
        .sortWithinPartitions(key, ts_col, tiebreak)
        .mapInPandas(_smooth, out_schema)
    )


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Open/high/low/close bars per (key, hour bucket) — the hypertable
    downsampling primitive (continuous-aggregate style): first and last
    observed value plus extremes and count, per key per bucket.

    Open/close are ORDER-dependent aggregates; ties on the timestamp
    break by ``event_id`` so the bar is deterministic under replays and
    engine swaps. Formulated as one bucket-keyed window pass (row_number
    ascending + descending share the single sort) rather than min_by /
    arg_min, whose composite-key tie-breaking differs across engines.

    Scale: one shuffle on (key, bucket); per-group state is the group
    itself (same bound as any windowed rollup), and the bar table that
    leaves the shuffle is |keys|·|buckets| rows — the downsampled
    series, storage-bounded regardless of event volume.
    """
    b = F.date_trunc("hour", F.col(ts_col)).alias("bucket")
    base = df.select(
        F.col(key_col), b, F.col(ts_col), F.col(value_col), F.col("event_id")
    )
    w_asc = Window.partitionBy(key_col, "bucket").orderBy(
        F.col(ts_col), F.col("event_id")
    )
    w_desc = Window.partitionBy(key_col, "bucket").orderBy(
        F.col(ts_col).desc(), F.col("event_id").desc()
    )
    return (
        base.withColumn("__ra", F.row_number().over(w_asc))
        .withColumn("__rd", F.row_number().over(w_desc))
        .groupBy(key_col, "bucket")
        .agg(
            F.max(F.when(F.col("__ra") == 1, F.col(value_col))).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max(F.when(F.col("__rd") == 1, F.col(value_col))).alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )


def multi_touch_attribution(
    events: DataFrame,
    key: str,
    touch_type: str,
    convert_type: str,
    lookback_seconds: int,
) -> DataFrame:
    """Linear multi-touch attribution: each conversion's value is split
    in integer cents across the key's touch events in the preceding
    ``lookback_seconds`` window — equal credit per touch, the division
    remainder going to the FIRST touch so every conversion's credits
    sum exactly to its value (no float leakage, engine-exact).

    Returns one row per (conversion, touch): conv_id, touch_id, key,
    touch ts, n_touches, credit_cents.

    Scale: the one-sided interval join is bucketized like
    range_join_bucketed — conversions explode into their 2 candidate
    lookback buckets and the join runs on (key, bucket), so hot keys
    cost same-bucket candidates, never a per-key nested loop; the
    credit split is one window over each conversion's matched touches
    (group size = touches per conversion, naturally small).
    """
    width = int(lookback_seconds) * 1_000_000
    conv = events.filter(F.col("event_type") == convert_type).select(
        F.col(key).alias("__k"),
        F.col("event_id").alias("conv_id"),
        F.unix_micros(F.col("ts")).alias("__pt"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("__cents"),
    )
    touch = events.filter(F.col("event_type") == touch_type).select(
        F.col(key).alias("__k"),
        F.col("event_id").alias("touch_id"),
        F.col("ts").alias("touch_ts"),
        F.unix_micros(F.col("ts")).alias("__ct"),
        F.floor(F.unix_micros(F.col("ts")) / width).alias("__bucket"),
    )
    probes = conv.withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.floor(F.col("__pt") / width) - 1,
                F.floor(F.col("__pt") / width),
            )
        ),
    )
    matched = probes.join(touch, ["__k", "__bucket"]).filter(
        (F.col("__ct") >= F.col("__pt") - width) & (F.col("__ct") < F.col("__pt"))
    )
    w_rank = Window.partitionBy("conv_id").orderBy("__ct", "touch_id")
    w_all = Window.partitionBy("conv_id")
    return (
        matched.withColumn("__rn", F.row_number().over(w_rank))
        .withColumn("n_touches", F.count(F.lit(1)).over(w_all).cast("int"))
        .withColumn(
            "credit_cents",
            F.when(
                F.col("__rn") == 1,
                F.col("__cents")
                - (F.col("n_touches") - 1)
                * F.expr("__cents DIV n_touches"),
            )
            .otherwise(F.expr("__cents DIV n_touches"))
            .cast("bigint"),
        )
        .select(
            F.col("__k").alias(key),
            "conv_id",
            "touch_id",
            "touch_ts",
            "n_touches",
            "credit_cents",
        )
    )


def cusum(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_cents_col: str,
    tiebreak: str,
    target_cents: int,
    slack_cents: int,
    threshold_cents: int,
) -> DataFrame:
    """Per-key one-sided (upper) CUSUM changepoint detector over an
    integer-cents series: S_0 = max(0, x_0 − target − slack),
    S_t = max(0, S_{t-1} + x_t − target − slack), alarm when
    S_t > threshold — the sequential drift detector that flags a
    sustained mean shift EWMA smoothing only dilutes (Page 1954).

    Pure int64 arithmetic, so every state value replays bit-exactly in
    the recursive-CTE oracle. Same execution shape as :func:`ewma`:
    one shuffle on the key, partition-local sort, a single linear
    mapInPandas pass carrying (key, state) across Arrow batch
    boundaries — never a per-key pandas frame.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    drift = int(target_cents) + int(slack_cents)
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", cusum_cents bigint, alarm boolean"

    def _scan(batches):
        last_key, last_s = object(), 0
        for pdf in batches:
            if pdf.empty:
                continue
            keys = pdf[key].to_numpy()
            vals = pdf[value_cents_col].to_numpy(dtype="int64")
            out = [0] * len(vals)
            for i in range(len(vals)):
                prev = last_s if keys[i] == last_key else 0
                s = prev + int(vals[i]) - drift
                out[i] = s if s > 0 else 0
                last_key, last_s = keys[i], out[i]
            pdf = pdf.copy()
            pdf["cusum_cents"] = out
            pdf["alarm"] = [s > threshold_cents for s in out]
            yield pdf

    return (
        df.repartition(F.col(key))
        .sortWithinPartitions(key, ts_col, tiebreak)
        .mapInPandas(_scan, out_schema)
    )


def directed_cooccurrence(df: DataFrame, key: str, item: str) -> DataFrame:
    """Symmetric DIRECTED co-occurrence edges (src, dst, weight): both
    orientations of every unordered pair from
    :func:`cooccurrence_pairs`, weight = number of keys exhibiting
    both. The one edge-list constructor the graph/recsys queries share
    (PageRank, k-NN sparsification, neighborhood Jaccard, association
    rules) — the pair canonicalization and its cost bound live in
    cooccurrence_pairs; this just mirrors the direction.
    """
    # ONE explode instead of a two-branch union (r12): the union
    # re-evaluated the whole cooccurrence subtree — sets aggregation +
    # the |vocabulary|² pair explode, the expensive kernel — once per
    # direction. Identical (src, dst, weight) multiset: every
    # unordered pair emits exactly its two orientations.
    cooc = cooccurrence_pairs(df, key, item)
    return cooc.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("src"),
                    F.col("item_b").alias("dst"),
                ),
                F.struct(
                    F.col("item_b").alias("src"),
                    F.col("item_a").alias("dst"),
                ),
            )
        ).alias("__e"),
        F.col("n_keys").alias("weight"),
    ).select("__e.src", "__e.dst", "weight")
