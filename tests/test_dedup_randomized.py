"""Randomized cross-engine exactness for the skew-guarded dedup family.

The adaptive pair-join guard (operators/skew.chunked_self_pairs) picks
its PHYSICAL plan from data statistics — plain fast path, chunked, or
chunk-and-pinned — so the one thing randomized breadth must certify is
that every regime emits the identical row multiset the DuckDB oracle
computes. The degenerate stars cover the all-identical adversarial
extreme; these corpora cover the mixed regimes in between: a hot
near-dup cluster far above the bucket caps, a mid tail of templated
families, and unique fillers — all in one corpus, so the guard's hot
and cold branches run side by side within a single query.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0xD00D
QUERIES = (
    "q_dedup_minhash_lsh",
    "q_dedup_simhash_pairs",
    "q_dedup_ngram_jaccard",
    "q_dedup_containment",
)


def _write_docs(spark, root, seed: int, hot: int) -> None:
    rng = random.Random(seed)
    rows = []
    did = 0

    def add(text):
        nonlocal did
        rows.append((did, text, "en", f"src{did % 7}", len(text)))
        did += 1

    # hot cluster: `hot` near-identical docs (far above LSH_BUCKET_CAP
    # when hot > 64) — every LSH band and most shingles collide
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(hot):
        add(base + ("" if i % 3 else " tail"))
    # mid tail: templated families of 4-9 docs sharing long prefixes
    for fam in range(12):
        stem = f"family {fam} " + " ".join(
            rng.choice(["alpha", "beta", "gamma", "delta"]) for _ in range(8)
        )
        for k in range(rng.randint(4, 9)):
            add(stem + f" variant {k}")
    # unique fillers
    for _ in range(60):
        add(" ".join(f"w{rng.randint(0, 5000)}" for _ in range(12)))
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/documents.parquet")


def _duck_rows(root: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"parquet_scan('{root}/documents.parquet/*.parquet')"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("hot", [8, 96])
def test_dedup_family_matches_duckdb_on_mixed_corpora(spark, tmp_path, hot):
    """hot=8 keeps every bucket under the caps (plain fast path);
    hot=96 pushes the cluster past LSH_BUCKET_CAP=64 (chunked path) —
    both must hash-match DuckDB exactly."""
    root = str(tmp_path / f"corpus_h{hot}")
    _write_docs(spark, root, SEED + hot, hot)
    for name in QUERIES:
        qd = CATALOG[name]
        got = sorted(
            tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            )
            for r in query_rows(spark, qd, root)
        )
        want = sorted(
            tuple(
                round(v, 9) if isinstance(v, float) else v for v in r
            )
            for r in _duck_rows(root, qd.oracle)
        )
        assert got == want, f"{name} diverged (hot={hot})"
        assert got, f"{name} returned empty on a near-dup-rich corpus"
