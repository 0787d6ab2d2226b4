"""Deterministic sampling and dataset-split operators.

Training-data curation at 100 TB needs REPRODUCIBLE selections: a
train/val split or a per-stratum sample must come out identical across
reruns, engines, partitionings, and cluster sizes — Spark's built-in
``df.sample``/``sampleBy`` are seeded per-partition and change with the
partitioning, so they can't anchor a dataset card. Everything here keys
off a content hash (md5 of the row key), which is stable everywhere and
SQL-portable, so the driver's DuckDB oracle can replay the exact
selection.

Scale properties:

- ``hash_split`` is a narrow projection — zero shuffles, streams with
  the scan, and any engine that computes md5 places every row in the
  same split forever (rows added later don't move existing rows).
- ``stratified_sample`` is one shuffle on the strata columns + a
  per-stratum top-n (rank over the hash order); no global sort. Skewed
  strata bound the partition size at |stratum|, the same bound any
  per-group top-k has.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.localrel import inline_values_df

# Split thresholds are 4-hex-digit md5 prefixes: 16^4 = 65536 buckets,
# so requested fractions are honored to ~0.0015%. Comparing the hex
# PREFIX as a string is equivalent to comparing the bucket number but
# needs no hex->int conversion, which keeps the expression portable
# across engines (same form runs in DuckDB).
_PREFIX_LEN = 4
_BUCKETS = 16**_PREFIX_LEN


def hash_bucket(key: Column) -> Column:
    """Stable [0, 16^_PREFIX_LEN) bucket of a key via its md5 prefix."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, _PREFIX_LEN), 16, 10
    ).cast("long")


def split_thresholds(splits: dict[str, float]) -> list[tuple[str, str]]:
    """[(split_name, exclusive_upper_hex_prefix)] with cumulative
    fractions mapped onto md5-prefix space. Fractions must sum to 1."""
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    out: list[tuple[str, str]] = []
    acc = 0.0
    for name, frac in splits.items():
        acc += frac
        bound = min(_BUCKETS, round(acc * _BUCKETS))
        # 'g' sorts above every hex digit, so a full-range bound keeps
        # the string comparison total (format(16^n) would be n+1 chars
        # and lexicographically BELOW 'ffff').
        hex_bound = "g" if bound >= _BUCKETS else format(bound, f"0{_PREFIX_LEN}x")
        out.append((name, hex_bound))
    return out


def hash_split(df: DataFrame, key: str, splits: dict[str, float]) -> DataFrame:
    """Assign every row to a named split by its key's md5 prefix.

    Deterministic, partitioning-independent, and stable under appends:
    a row's split depends only on its key. Insertion order of ``splits``
    fixes the bucket layout, so ('train': .8, 'val': .1, 'test': .1)
    always carves the same three prefix ranges.
    """
    prefix = F.substring(F.md5(F.col(key).cast("string")), 1, _PREFIX_LEN)
    expr = None
    for name, bound in reversed(split_thresholds(splits)):
        expr = (
            F.lit(name)
            if expr is None
            else F.when(prefix < F.lit(bound), F.lit(name)).otherwise(expr)
        )
    # reversed() + otherwise-chaining emits WHEN prefix < b1 THEN s1
    # WHEN prefix < b2 THEN s2 ... ELSE s_last — first matching range wins
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame, strata: list[str], n_per_stratum: int, key: str
) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, chosen by md5 order
    of the key (a uniform, reproducible pseudo-order; ties broken by the
    key itself so duplicate hashes can't make the pick ambiguous)."""
    order = F.md5(F.col(key).cast("string"))
    w = Window.partitionBy(*strata).orderBy(order, F.col(key))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_stratum)
        .drop("__rn")
    )


def rebalance_sources(df: DataFrame, weight_ppm: Column) -> DataFrame:
    """Downsample to a target source mix — the largest corpus honoring
    the given per-source weights without upsampling any source.

    ``weight_ppm`` is a positive integer column (parts-per-million mix
    weight, functionally dependent on ``source``). Let
    T = min_s(n_s · 1e6 DIV w_s) — the total the scarcest source can
    support; each source then keeps k_s = (w_s · T) DIV 1e6 rows, chosen
    by md5 order of ``doc_id``. Pure integer arithmetic end to end, so
    quota sizes and row placement are engine-exact and reproducible.

    Scale: one tiny per-source count aggregate (broadcast back), then
    one shuffle on the source for the per-source ranking — the same
    per-group top-k bound as ``stratified_sample``: exact quota
    selection inherently ranks within each source. The md5 pseudo-order
    means what's kept is a uniform sample of each source, stable across
    partitionings.
    """
    tagged = df.withColumn("__w", weight_ppm.cast("long"))
    counts = tagged.groupBy("source", "__w").agg(
        F.count(F.lit(1)).alias("__n")
    )
    t = counts.agg(
        F.min(F.expr("__n * 1000000 DIV __w")).alias("__t")
    )
    quota = counts.crossJoin(F.broadcast(t)).select(
        "source", F.expr("(__w * __t) DIV 1000000").alias("__k")
    )
    order = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(order, F.col("doc_id"))
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(quota), "source")
        .filter(F.col("__rn") <= F.col("__k"))
        .drop("__w", "__rn", "__k")
    )


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    out_col: str = "running_sum",
    n_partitions: int | None = None,
    index_col: str | None = None,
) -> DataFrame:
    """Globally-ordered cumulative sum WITHOUT the single-partition
    window trap: ``Window.orderBy`` with no partitionBy funnels every
    row through one task — correct, and a scale cliff.

    Two-phase formulation: range-repartition by the order columns, local
    cumsum per partition (window keyed by the partition id — each task
    sorts only its range), then add each partition's prefix offset,
    computed from the per-partition totals (a partition-count-sized
    aggregate). The result is boundary-invariant: wherever the sampled
    range boundaries land, local-cumsum + prefix-offset equals the
    global cumulative sum, because range partitioning preserves the
    global order across partitions.

    ``index_col`` additionally emits the global 1-based row index
    (the rank in the total order) computed the same two-phase way off
    the SAME pinned materialization — one extra window function in the
    already-sorted pass, no extra shuffle.
    """
    spark = df.sparkSession
    n = n_partitions or spark.sparkContext.defaultParallelism
    # the __pid column is a RUNTIME id: the offsets branch and the output
    # branch below must observe the SAME physical partitioning, but two
    # executions of one subplan are not guaranteed identical under AQE
    # (re-planned exchanges can coalesce differently per query stage,
    # silently shifting every prefix offset). A lazy localCheckpoint
    # pins one materialization that both branches read.
    ranged = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("__local_sum", F.sum(value_col).over(w_local))
    if index_col is not None:
        w_rank = Window.partitionBy("__pid").orderBy(*order_cols)
        local = local.withColumn(
            "__local_idx", F.row_number().over(w_rank)
        )
    # partition total = SUM of the measure, NOT max of the local cumsum:
    # the two coincide for non-negative measures, but a signed measure's
    # cumulative path can peak above its endpoint (the KS drift statistic
    # runs signed counts through here)
    total_aggs = [F.sum(value_col).alias("__part_total")]
    if index_col is not None:
        total_aggs.append(F.count(F.lit(1)).alias("__part_count"))
    totals = local.groupBy("__pid").agg(*total_aggs)
    w_prefix = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the offset table is |partitions| rows — the one place a global
    # window is fine
    offsets = totals.withColumn(
        "__offset",
        F.coalesce(F.sum("__part_total").over(w_prefix) - F.col("__part_total"), F.lit(0)),
    )
    offset_cols = ["__pid", "__offset"]
    if index_col is not None:
        offsets = offsets.withColumn(
            "__idx_offset",
            F.coalesce(
                F.sum("__part_count").over(w_prefix) - F.col("__part_count"),
                F.lit(0),
            ),
        )
        offset_cols.append("__idx_offset")
    offsets = offsets.select(*offset_cols)
    out = (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.col("__local_sum") + F.col("__offset"))
    )
    drop = ["__pid", "__local_sum", "__offset"]
    if index_col is not None:
        out = out.withColumn(
            index_col, F.col("__local_idx") + F.col("__idx_offset")
        )
        drop += ["__local_idx", "__idx_offset"]
    return out.drop(*drop)


def temperature_rebalance(
    df: DataFrame,
    domain_col: str,
    key: str,
    target_total: int,
) -> DataFrame:
    """Temperature-flattened domain mix at temperature alpha = 1/2: keep
    domain ``d``'s share proportional to sqrt(n_d) — the mT5/UniMax-style
    resampling that damps head domains and boosts tail ones so a
    training corpus isn't dominated by its largest source.

    Engine-exact by construction: IEEE-754 requires ``sqrt`` (unlike
    ``pow``) to be correctly rounded, so ``floor(sqrt(n) * 1e6)`` is
    bit-identical in Spark and DuckDB; every step after that integer
    weight is pure integer arithmetic (BIGINT sums, DIV quotas), so
    quota sizes and md5-ordered row placement replay exactly in the
    oracle. (General alpha would need pow(), which libm/JVM round
    differently in the last ulp — that's why the operator fixes
    alpha = 1/2 instead of taking it as a parameter.)

    The realized total is min(target_total, T_feasible) where
    T_feasible = min_d(n_d * S DIV s_d) caps the total at the point the
    scarcest domain would need upsampling. Overflow bound: n_d * S must
    fit in int64, about 1e12 docs at the 1e6 weight scale.

    Scale: the per-domain count is a tiny aggregate (map-side combine,
    |domains| rows); quota arithmetic happens on that tiny frame with
    broadcast scalars; the only data-sized exchange is the per-domain
    md5 ranking — the same per-group top-k bound as stratified_sample.
    """
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("__n"))
    s = counts.select(
        domain_col,
        "__n",
        F.floor(F.sqrt(F.col("__n")) * 1_000_000).cast("long").alias("__w"),
    )
    tot = s.agg(F.sum("__w").alias("__wtot"))
    st = s.crossJoin(F.broadcast(tot))
    t = st.agg(
        F.least(
            F.min(F.expr("__n * __wtot DIV __w")), F.lit(int(target_total))
        ).alias("__cap")
    )
    quota = st.crossJoin(F.broadcast(t)).select(
        domain_col, F.expr("__w * __cap DIV __wtot").alias("__k")
    )
    order = F.md5(F.col(key).cast("string"))
    w = Window.partitionBy(domain_col).orderBy(order, F.col(key))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(quota), domain_col)
        .filter(F.col("__rn") <= F.col("__k"))
        .drop("__rn", "__k")
    )


def kfold_assign(df: DataFrame, key: str, k: int) -> DataFrame:
    """Assign every row a fold in [0, k) from its key's md5 — the
    deterministic k-fold carve for cross-validation over a corpus.

    Same stability contract as hash_split: a row's fold depends only on
    its key, so folds survive appends, repartitioning, and engine
    swaps. Buckets are the first 4 hex digits (65536) taken mod k, so
    fold sizes are uniform to ~k/65536 relative skew.

    Scale: a narrow per-row projection — zero shuffles, streams with
    the scan.
    """
    bucket = hash_bucket(F.col(key))
    return df.withColumn("fold", (bucket % k).cast("int"))


def shard_and_order(
    df: DataFrame,
    key: str,
    n_shards: int,
    seed: str = "",
) -> DataFrame:
    """Seeded global training-order shuffle, materialized as shard +
    position-within-shard — the "shuffle the corpus before training"
    step, done without a global sort.

    A true global ORDER BY md5 funnels the final ordering through a
    range exchange whose reduce side must still write one global
    sequence. Training readers don't need one sequence; they need S
    independent shard files, each internally shuffled, whose
    concatenation in any shard order is a uniform permutation. So:
    shard = (first 4 md5 hex digits of seed:key) mod S — a narrow
    projection — and pos = row_number within the shard ordered by the
    full digest. One hash exchange on ``shard`` + per-shard sort:
    exactly the work a partitioned writer does anyway, and each of the
    S sort tasks handles ~N/S rows regardless of data skew, because the
    digest is uniform over the key space.

    Changing ``seed`` reshuffles everything (new digests); identical
    seed+corpus replays the identical permutation on any engine or
    partitioning — md5 is the portability anchor, as in hash_split.
    """
    digest = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key).cast("string")))
    bucket = F.conv(F.substring(digest, 1, _PREFIX_LEN), 16, 10).cast("long")
    shard = (bucket % n_shards).cast("int")
    out = df.withColumn("shard", shard)
    w = Window.partitionBy("shard").orderBy(digest, F.col(key))
    return out.withColumn("pos", F.row_number().over(w).cast("long"))


def mix_epochs(df: DataFrame, epochs_ppm: dict[str, int]) -> DataFrame:
    """Realize a fractional-epoch source mix by deterministic row
    replication — the standard way training recipes express "3.5 epochs
    of wiki, 0.7 epochs of web" (e.g. the repetition-aware mixes in
    LLaMA/GPT-3 data cards).

    ``epochs_ppm`` maps source -> target epochs in parts-per-million
    (3_500_000 = 3.5 epochs). Every row of source s gets
    floor(e_s) copies; the fractional remainder is realized EXACTLY as
    k_s = (n_s * (e_s mod 1e6)) DIV 1e6 extra copies, granted to the
    k_s first rows in md5 order of ``doc_id`` — so the realized per-source
    total is integer-exact, not Bernoulli-approximate, and which rows
    repeat is reproducible on any engine. e_s < 1e6 downsamples
    (floor = 0, only the md5-selected k_s survive), unifying up- and
    down-sampling in one rule. Rows are exploded with a 0-based
    ``epoch_idx`` so downstream shuffling can interleave copies.

    Scale: one tiny per-source count (map-side combine) broadcast back;
    the data-sized work is the per-source md5 ranking (per-group
    ordering, same bound as stratified_sample) and a map-side
    posexplode whose fan-out is the epoch factor itself. Sources absent
    from ``epochs_ppm`` are dropped (explicit mixes only — silence is
    the one thing a data card can't audit).
    """
    spec = inline_values_df(
        df.sparkSession,
        [(s, int(p)) for s, p in epochs_ppm.items()],
        "source string, __eppm long",
    )
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    quota = counts.join(spec, "source").select(
        "source",
        F.expr("__eppm DIV 1000000").alias("__base"),
        F.expr("(__n * (__eppm % 1000000)) DIV 1000000").alias("__k"),
    )
    order = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(order, F.col("doc_id"))
    ranked = df.withColumn("__rn", F.row_number().over(w))
    with_copies = (
        ranked.join(F.broadcast(quota), "source")
        .withColumn(
            "copies",
            (
                F.col("__base")
                + F.when(F.col("__rn") <= F.col("__k"), 1).otherwise(0)
            ).cast("int"),
        )
        .drop("__rn", "__base", "__k")
    )
    # array_repeat(·, 0) is empty, so posexplode drops copies=0 rows —
    # no sequence(1,0) reverse-step trap
    return with_copies.select(
        "*",
        F.posexplode(F.array_repeat(F.lit(1), F.col("copies"))).alias(
            "epoch_idx", "__one"
        ),
    ).drop("__one")


def weighted_sample(
    df: DataFrame,
    key: str,
    weight_col: str,
    n: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis–Spirtakis
    A-ES), integer-exact: draw the ``n`` rows whose selection keys rank
    highest, where a row with integer weight ``w`` wins proportionally
    to ``w`` at every elimination round — the standard one-pass
    distributed weighted reservoir.

    A-ES ranks rows by ``u^(1/w)`` (u uniform). That float key would
    hit the cross-engine pow()/ln() last-ulp trap, so the engine uses
    the distributional identity ``u^(1/w) ~ max(u_1..u_w)``: draw ``w``
    deterministic md5 uniforms per row and keep the lexicographic
    maximum hex string. Pure string comparison — no float anywhere, so
    placement replays exactly in any engine with md5 (ties are
    impossible in practice but break by key for total order). Weights
    must be integers in [1, 64]; enforced with a typed error
    because a silently-capped weight would bias the draw.

    Scale: the key is a zero-shuffle per-row projection (a w-element
    map-side hash array, bounded by the cap of 64); the global top-n is
    TakeOrderedAndProject — per-partition heaps of n, no global sort,
    no shuffle of the data itself. The weight cap keeps the per-row
    cost bounded: resolution beyond ~64 tiers buys
    no practical sampling fidelity but scales hashing linearly.
    """
    wcol = F.col(weight_col).cast("long")
    guarded = df.withColumn(
        "__w",
        F.when((wcol >= 1) & (wcol <= 64), wcol).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("weighted_sample: weight must be in [1, 64], got "),
                    wcol.cast("string"),
                )
            )
        ),
    )
    es_key = F.array_max(
        F.transform(
            F.sequence(F.lit(1), F.col("__w").cast("int")),
            lambda j: F.md5(
                F.concat_ws(
                    ":", F.lit("ws"), F.col(key).cast("string"), j.cast("string")
                )
            ),
        )
    )
    return (
        guarded.withColumn("es_key", es_key)
        .drop("__w")
        .orderBy(F.desc("es_key"), F.col(key))
        .limit(n)
    )


def temporal_split(
    df: DataFrame,
    ts_col: str,
    cuts: Sequence[tuple[str, str]],
) -> DataFrame:
    """Temporal holdout carve: label every row train/val/test by
    event-time boundaries — the split discipline for forecasting and
    recommendation corpora, where hash_split would leak the future into
    training.

    ``cuts``: ordered (name, upper_bound_exclusive) pairs; the last
    name takes everything at/after the final bound, e.g.
    ``[("train", "2024-01-20"), ("val", "2024-01-25"), ("test", None)]``.

    Scale: the label is one chained when() over the timestamp — a
    zero-shuffle projection that composes with partition pruning when
    the table is date-partitioned (each split reads only its partition
    range; nothing rescans).
    """
    if not cuts or cuts[-1][1] is not None:
        raise ValueError(
            "cuts must be ordered and end with a (name, None) catch-all"
        )
    expr = None
    for idx, (name, bound) in enumerate(cuts):
        cond = (
            F.col(ts_col) < F.lit(bound).cast("timestamp")
            if bound is not None
            else None
        )
        if expr is None:
            expr = F.when(cond, F.lit(name))
        elif cond is not None:
            expr = expr.when(cond, F.lit(name))
        else:
            expr = expr.otherwise(F.lit(name))
    return df.withColumn("split", expr).withColumn(
        "split_idx",
        F.coalesce(
            *[
                F.when(F.col("split") == name, F.lit(i))
                for i, (name, _) in enumerate(cuts)
            ]
        ).cast("int"),
    )


def temporal_split_audit(
    labeled: DataFrame, user_col: str
) -> DataFrame:
    """Per-split composition + cross-split identity report for a
    temporal carve: events, distinct users, and how many of this
    split's users already appeared in an EARLIER split (returning
    users — the population a user-conditioned model has partially seen,
    which a leakage review must know about even when the timestamps
    are sound).

    Scale: one shuffle keyed by user for the first-appearance minimum,
    one tiny per-split aggregate; nothing quadratic in splits or users.
    """
    per_user = labeled.groupBy(user_col, "split", "split_idx").agg(
        F.count(F.lit(1)).alias("__n")
    )
    first = per_user.groupBy(user_col).agg(
        F.min("split_idx").alias("__first_idx")
    )
    joined = per_user.join(first, user_col)
    return (
        joined.groupBy("split", "split_idx")
        .agg(
            F.sum("__n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum(
                F.when(F.col("__first_idx") < F.col("split_idx"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_returning_users"),
        )
    )
