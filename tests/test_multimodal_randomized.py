"""Randomized cross-engine exactness for the multimodal and chunking
families.

Media payloads are synthesized deterministically from the documents
table (attach_fake_media) and chunk spans from text lengths, so random
documents exercise the full derivation — binary payload construction,
Arrow-batched pHash UDF plumbing, and content-defined chunk
boundaries — against oracles that replay the same arithmetic in SQL.
Texts are drawn with exact duplicates (pHash/chunk-dedup collisions),
length extremes straddling the chunk min/max, and multi-script
material.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0xA0D4
QUERIES = (
    "q_media_metadata_stats",
    "q_media_phash_near_dup",
    "q_chunk_documents",
    "q_chunk_dedup",
)


def _write_docs(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    rows = []
    did = 0

    def add(text):
        nonlocal did
        rows.append((did, text, "en", f"src{did % 5}", len(text)))
        did += 1

    # exact duplicate texts (pHash and chunk-dedup collisions)
    dup = "shared asset body " + " ".join(f"t{i}" for i in range(40))
    for _ in range(6):
        add(dup)
    # length extremes around the chunking bounds
    for n in (1, 3, 50, 199, 200, 201, 399, 400, 401, 1200):
        add("y" * n)
    # random prose of varied lengths
    for _ in range(80):
        add(" ".join(
            f"w{rng.randint(0, 2000)}" for _ in range(rng.randint(2, 220))
        ))
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


@pytest.mark.parametrize("case", range(2))
def test_multimodal_and_chunking_match_duckdb(spark, tmp_path, case):
    root = str(tmp_path / f"docs{case}")
    _write_docs(spark, root, SEED + case)
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
        assert got == want, f"{name} diverged on seed {SEED + case}"
        assert got, f"{name} returned empty on a populated corpus"
