"""Distributed heavy hitters — Misra–Gries candidates, exact verify.

At 100 TB the naive heavy-hitter plan (groupBy key → filter on count)
shuffles EVERY distinct key; with billions of keys that shuffle — not
the scan — is the bottleneck, and a single hot group's buffered state is
the skew hazard. The classic two-pass remedy:

1. **Candidate pass** — each partition summarizes its local stream with
   a Misra–Gries table of ``capacity`` counters (bounded memory, one
   sequential scan). MG's deterministic guarantee: a key whose local
   frequency exceeds W_p/(capacity+1) cannot be evicted. By pigeonhole,
   any key with GLOBAL frequency > n/k is a local heavy hitter in at
   least one partition, so with capacity = k the union of per-partition
   survivor keys is a SUPERSET of the true heavy hitters — no false
   negatives, ever. Only ≤ capacity × n_partitions tiny summary rows
   leave the executors.
2. **Verify pass** — re-scan, broadcast-semi-join rows onto the
   candidate set (map-side filter: non-candidate rows never shuffle),
   exact-count the survivors, keep count·k > n. False positives die
   here, so the final answer is EXACT and independent of partition
   order — which is what makes a value-hash oracle possible.

Shuffle volume: O(capacity · partitions + Σ freq(candidates)) vs the
naive O(distinct keys). The scans stay column-pruned to the key column.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries_partial(
    df: DataFrame, key_col: str, capacity: int
) -> DataFrame:
    """Per-partition Misra–Gries summaries: (key, est) rows, ≤ capacity
    per partition.

    Weighted-increment form (Berinde et al.): each batch's counts fold
    in at once; on overflow every counter drops by the table minimum and
    zeros evict. Invariant: true_local − est ≤ W_p/(capacity+1), est ≤
    true_local — so ``est`` is a guaranteed lower bound and survivors
    include every local heavy hitter.
    """
    if capacity < 1:
        raise ValueError("capacity must be >= 1")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[int, int] = {}
        for batch in batches:
            vals, counts = np.unique(
                batch["key"].to_numpy(), return_counts=True
            )
            for v, w in zip(vals.tolist(), counts.tolist()):
                counters[v] = counters.get(v, 0) + w
                if len(counters) > capacity:
                    d = min(counters.values())
                    counters = {
                        k: c - d for k, c in counters.items() if c > d
                    }
        if counters:
            yield pd.DataFrame(
                {
                    "key": np.fromiter(counters.keys(), dtype=np.int64),
                    "est": np.fromiter(counters.values(), dtype=np.int64),
                }
            )

    return df.select(F.col(key_col).cast("long").alias("key")).mapInPandas(
        fn, "key long, est long"
    )


def heavy_hitters(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Exact keys with frequency > n/k: (key, n_rows, freq_ppm).

    The candidate tables hold ``k`` counters each — the smallest table
    for which the no-false-negative union guarantee holds.
    """
    keyed = df.select(F.col(key_col).cast("long").alias("key"))
    cands = misra_gries_partial(df, key_col, k).select("key").distinct()
    total = keyed.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        keyed.join(F.broadcast(cands), "key", "left_semi")
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("n_rows") * k > F.col("n_total"))
        .select(
            "key",
            "n_rows",
            F.expr("CAST(n_rows * 1000000 DIV n_total AS BIGINT)").alias(
                "freq_ppm"
            ),
        )
    )


# --- Count-min sketch ---------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_col(key, depth_idx):
    """Row ``depth_idx``'s column for ``key``: md5-prefix hash mod
    CMS_WIDTH.

    Same stable-hex-prefix construction as sampling.hash_bucket, salted
    by the depth index — engine-portable (md5 + integer mod only)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(f"cms{depth_idx}"), key.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % CMS_WIDTH
    )


def count_min_build(df: DataFrame, key_col: str) -> DataFrame:
    """Build a count-min sketch (Cormode & Muthukrishnan 2005) of the
    key stream as a (depth, col, cnt) frame — ≤ depth × width rows
    regardless of input size.

    The sketch is a pure GROUP BY: each row maps to ``depth`` (row,
    column) cells map-side (an inline posexplode of the depth hash
    array — no join, no UDF) and the cell counts aggregate with partial
    combine. The result is mergeable by construction: sketches of two
    streams ADD cell-wise (same GROUP BY over their union), which is
    what makes CMS the distributed point-frequency primitive — a
    bounded-size summary where the exact per-key groupBy would shuffle
    every distinct key.
    """
    return (
        count_min_cells(df, key_col)
        .groupBy("depth", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_cells(df: DataFrame, key_col: str) -> DataFrame:
    """The pre-aggregation (depth, col) cell stream — one row per input
    row per sketch row. Exposed separately so incremental maintenance
    can route cells through a mergeable count rollup
    (``warehouse.partial_rollup``/``merge_rollups``): CMS increments are
    counts, so a count rollup keyed by (depth, col) IS an
    incrementally-maintained CMS."""
    return df.select(
        F.posexplode(
            F.array(*[_cms_col(F.col(key_col), i) for i in range(CMS_DEPTH)])
        ).alias("depth", "col")
    )


def count_min_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Point-frequency estimates for ``keys`` from a count-min sketch:
    est(k) = min over rows of cell(row, hash_row(k)) — never an
    underestimate, overestimate bounded by e·N/width with probability
    1 − e^−depth.

    Scale: the sketch is ≤ depth × width rows, so it broadcasts; each
    key probes its ``depth`` cells through the broadcast join and takes
    the MIN — no shuffle of the key set beyond its own groupBy.
    """
    probes = keys.select(
        F.col(key_col),
        F.posexplode(
            F.array(
                *[_cms_col(F.col(key_col), i) for i in range(CMS_DEPTH)]
            )
        ).alias("depth", "col"),
    )
    return (
        probes.join(F.broadcast(sketch), ["depth", "col"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_n"))
    )
