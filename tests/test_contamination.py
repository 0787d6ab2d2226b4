"""Contamination-detection semantics on hand-built corpora."""

from __future__ import annotations

from aircraftutilization_etl_spark.operators.contamination import (
    benchmark_shingle_set,
    contamination_report,
)


def test_contamination_counts_and_ppm(spark):
    # benchmark: one doc whose shingles include "the quick brown" etc.
    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], ["doc_id", "text"]
    )
    train = spark.createDataFrame(
        [
            # shares exactly one 3-gram ("quick brown fox"); 4 shingles
            (1, "a very quick brown fox runs"),
            # no overlap at all
            (2, "entirely different words here now"),
            # verbatim copy: every one of its 3 shingles hits
            (3, "the quick brown fox jumps"),
            # too short to shingle — must be absent, not zero-hit
            (4, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["n_shingles"], r["hit_ppm"])
        for r in contamination_report(
            train, benchmark_shingle_set(bench)
        ).collect()
    }
    assert got == {
        1: (1, 4, 250_000),
        3: (3, 3, 1_000_000),
    }


def test_duplicate_shingles_within_doc_count_once(spark):
    # the repeated phrase appears twice in doc 1 but its shingle set is
    # distinct, so the hit counts once
    bench = spark.createDataFrame([(9, "lorem ipsum dolor")], ["doc_id", "text"])
    train = spark.createDataFrame(
        [(1, "lorem ipsum dolor sit lorem ipsum dolor")], ["doc_id", "text"]
    )
    [row] = contamination_report(train, benchmark_shingle_set(bench)).collect()
    assert row["n_hits"] == 1
