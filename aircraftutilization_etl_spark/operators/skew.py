"""Zipf-head skew guards shared across pair-generating operators.

Any equi-self-join on a raw text-derived key (shingle, q-gram, band
key, term) has a Zipf head at 100 TB: one hot key's entire f² pair
block lands in a single join task. ``chunked_self_pairs`` bounds the
per-task block at ~cap² with OUTPUT IDENTICAL to the plain self-join —
the guard every such join in this engine routes through (SCALE.md
round-10 Zipf-skew audit table names the per-site bounds).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .distribute import CORPUS_CACHE, cache, shuffle_width

# Pin the join's exchange (explicit hash repartition, which AQE will
# not coalesce) only when the total pair volume Σf² exceeds what one
# task absorbs without becoming a straggler. Below it, the whole join
# output is a few million rows end-to-end and AQE's byte-based
# coalescing (or its broadcast conversion) is strictly cheaper — the
# r10 bench measured the unconditional pin costing ~3x on the LSH
# candidate join whose ENTIRE pair volume was 22k rows (the figure
# COVERAGE.md and SCALE.md record for the same measurement). Above it,
# the pin is load-bearing: byte-based coalescing is blind to the pair
# explosion inside the join stage (measured on the 7,500-title probe:
# a ~28M-pair stage coalesced to 2 tasks, a 336 s straggler).
PIN_TOTAL_PAIRS = 4_000_000


def self_pair_stats(
    keyed: DataFrame, key_cols: Sequence[str]
) -> tuple[int, int]:
    """(max bucket size, Σ_buckets f²) for the ``key_cols`` grouping —
    the two O(1)-sized statistics ``chunked_self_pairs`` plans from.

    One map-side-combined aggregate job (partial aggregation absorbs
    the very Zipf head being measured, so the stats pass itself is
    skew-immune); nothing is persisted. Exposed separately so call
    sites can report the regime a corpus lands in (SCALE.md r11
    simhash diagnosis) without building the join.
    """
    row = (
        keyed.groupBy(*list(key_cols))
        .agg(F.count(F.lit(1)).alias("__f"))
        .agg(
            F.max("__f").alias("mx"),
            F.sum(F.col("__f") * F.col("__f")).alias("s2"),
        )
        .collect()[0]
    )
    return int(row["mx"] or 0), int(row["s2"] or 0)


def chunked_self_pairs(
    keyed: DataFrame,
    key_cols: Sequence[str],
    id_col: str,
    cap: int,
    payload: Mapping[str, tuple[str, str]] | None = None,
) -> DataFrame:
    """Skew-bounded self-join: every unordered pair of rows sharing the
    ``key_cols`` value meets EXACTLY once, with no join task group ever
    holding more than ~``cap``² pairs.

    Members of each key bucket hash into m = ceil(f / cap) chunks; side
    A replicates each member across its ROW of chunk pairs, side B
    across its COLUMN, so pair (a, b) meets exactly at
    (chunk(a), chunk(b)) — output identical to the plain self-join
    (certified per consumer by the unchanged DuckDB oracles), per-task
    work bounded by cap².

    EAGER BY CONTRACT: construction runs one O(1)-row statistics job
    (:func:`self_pair_stats` — a map-side-combined groupBy aggregate,
    NOT a materialization of the joined frame) so the physical strategy
    is picked from the data, the way the quota/kmeans operators collect
    model-sized statistics. Callers that only need the logical shape
    (explain-only tooling) still pay that one small job. Adaptive
    physical plan, identical output in all regimes:

    - max f ≤ cap and Σf² ≤ PIN_TOTAL_PAIRS (the overwhelmingly common
      case — an honest corpus's buckets are tiny): the chunk columns
      are provably all-zero, so they are OMITTED and the PLAIN
      self-join on the bare keys is returned — no window pass, nothing
      persisted, AQE free to broadcast or coalesce the few-MB sides.
      (r11: this path previously still paid a bucket-count window over
      a persisted frame it never used; dropping it removes the r10
      ADVICE cache-accumulation leak for the common regime and the
      cold-corpus overhead behind the q_dedup_simhash_pairs drift.)
    - max f > cap: the chunk machinery engages. The per-row bucket
      count ``__f`` (for m = ceil(f / cap)) comes from ONE window over
      the key partitioning, and that frame IS persisted — both join
      sides consume it, and without the cache the window subtree would
      execute twice. The cache is plan-sized (ids + keys + payload),
      lives exactly as long as the returned DataFrame (Spark's
      ContextCleaner drops it when the plan is garbage-collected), and
      only adversarial corpora ever reach this branch.
    - Σf² > PIN_TOTAL_PAIRS (either path): the join exchange is pinned
      with an explicit hash repartition on the join keys, because
      AQE's byte-based coalescing is blind to the pair explosion
      inside the join stage; its skew-split is unnecessary once
      chunking bounds every key group. Below the threshold the whole
      output fits in one comfortable task and the pin would only buy
      scheduling overhead. (If the planner broadcast-converts the join
      instead, dropping the pin, the sides were under the broadcast
      byte threshold — which itself bounds pair volume at
      broadcast_rows × cap, a benign few-seconds stage; the pin's
      target regime, big-bytes sort-merge sides, always retains it.)

    The decision depends only on the data (not on parallelism), and
    every branch emits the same multiset of rows — parallelism
    independence stays pinned by the odd-partitioning sweeps.

    Output: one row per (unordered pair, shared key occurrence) with
    columns (id_a, id_b) plus, for each ``payload`` entry
    ``col: (a_name, b_name)``, that column's value from each side —
    callers count rows per pair (intersection sizes), aggregate payload
    products (dot products), or ``distinct()`` (candidate sets).
    """
    payload = dict(payload or {})
    key_cols = list(key_cols)
    max_f, sum_f2 = self_pair_stats(keyed, key_cols)
    pin = sum_f2 > PIN_TOTAL_PAIRS
    n_part = shuffle_width(keyed.sparkSession)

    if max_f <= cap and not pin:
        # plain path: no chunk columns, no window, nothing persisted —
        # the join runs on the bare keys straight off the caller's
        # frame and AQE broadcast-converts or coalesces freely
        join_keys = key_cols
        base = keyed.select(F.col(id_col), *key_cols, *payload)
        a = base.select(
            F.col(id_col).alias("id_a"),
            *key_cols,
            *[F.col(c).alias(n[0]) for c, n in payload.items()],
        )
        b = base.select(
            F.col(id_col).alias("id_b"),
            *key_cols,
            *[F.col(c).alias(n[1]) for c, n in payload.items()],
        )
    else:
        bucket = Window.partitionBy(*key_cols)
        sized = cache(
            keyed.select(
                F.col(id_col),
                *key_cols,
                *payload,
                F.count(F.lit(1)).over(bucket).alias("__f"),
            ),
            CORPUS_CACHE,
        )
        # the chunk construction also carries the pin when max f <= cap
        # (all m = 1, chunk columns provably zero): joining on
        # (keys, __ca, __cb) differs from the cached window layout, so
        # the explicit repartition below cannot be elided as redundant
        join_keys = [*key_cols, "__ca", "__cb"]
        m = F.ceil(F.col("__f") / cap).cast("int")
        own = F.pmod(F.xxhash64(F.col(id_col)), m).cast("int")
        chunks = F.sequence(F.lit(0), m - 1)
        a = sized.select(
            F.col(id_col).alias("id_a"),
            *key_cols,
            *[F.col(c).alias(n[0]) for c, n in payload.items()],
            own.alias("__ca"),
            F.explode(chunks).alias("__cb"),
        )
        b = sized.select(
            F.col(id_col).alias("id_b"),
            *key_cols,
            *[F.col(c).alias(n[1]) for c, n in payload.items()],
            own.alias("__cb"),
            F.explode(chunks).alias("__ca"),
        )
    if pin:
        a = a.repartition(n_part, *join_keys)
        b = b.repartition(n_part, *join_keys)
    out_payload = [n for names in payload.values() for n in names]
    return (
        a.join(b, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *out_payload)
    )
