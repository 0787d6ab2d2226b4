"""Train/benchmark contamination detection.

Before a corpus becomes LLM training data, any document sharing verbatim
n-grams with an evaluation benchmark must be found (and usually
dropped) — otherwise eval scores measure memorization. The standard
recipe (GPT-3 appendix C and successors) is exact n-gram collision:
shingle both corpora, intersect, flag training documents by how many of
their shingles appear anywhere in the benchmark.

Spark-first shape — built entirely from the dedup module's shingle
primitives (one code path for shingling everywhere):

- The benchmark shingle set is tiny relative to the training corpus
  (eval suites are MBs; the corpus is TBs), so the intersection is a
  **broadcast** semi-structured join: the train side streams through a
  map-side hash probe, no shuffle of corpus shingles ever happens.
- Per-document shingle arrays are distinct (``with_shingle_array``), so
  a post-join ``count(*)`` IS the distinct-hit count — no second dedup.
- The only shuffle is the final groupBy on the training doc id, which
  ``with_shingle_array``'s id-repartition already satisfies, so the
  whole report is scan → project → broadcast-probe → partial-agg.

At 100 TB: cost is one pass over the corpus text plus a broadcast of
the benchmark set; nothing scales with corpus × benchmark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import with_shingle_array

# parts-per-million scaling for the hit ratio: integer DIV keeps the
# output exact (no float rounding ties between Spark and the oracle)
_PPM = 1_000_000


def benchmark_shingle_set(benchmark: DataFrame) -> DataFrame:
    """The distinct word-n-gram set of a benchmark corpus (one ``shingle``
    column) — the probe side of contamination checks.

    Distinct-aggregated so the broadcast ships each n-gram once; at real
    scale this is the small side by orders of magnitude.
    """
    return (
        with_shingle_array(benchmark)
        .select(F.explode_outer("shingles").alias("shingle"))
        .distinct()
    )


def contamination_report(
    train: DataFrame,
    benchmark_shingles: DataFrame,
) -> DataFrame:
    """Per-training-document benchmark overlap: (id, n_hits, n_shingles,
    hit_ppm) for every document with ≥ 1 shingle found in the benchmark
    set.

    ``hit_ppm`` = floor(n_hits * 1e6 / n_shingles) in pure integer
    arithmetic — exact, tie-free, and byte-identical across engines.
    Documents shorter than one shingle are excluded (they cannot
    collide), matching ``with_shingle_array``'s convention.
    """
    shingled = with_shingle_array(train)
    exploded = shingled.select(
        "doc_id",
        F.size("shingles").alias("n_shingles"),
        F.explode_outer("shingles").alias("shingle"),
    )
    hits = (
        exploded.join(F.broadcast(benchmark_shingles), "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            F.first("n_shingles").alias("n_shingles"),
        )
        .filter(F.col("n_hits") >= 1)
    )
    return hits.select(
        "doc_id",
        "n_hits",
        "n_shingles",
        F.expr(f"CAST((n_hits * {_PPM}) DIV n_shingles AS BIGINT)").alias(
            "hit_ppm"
        ),
    )
