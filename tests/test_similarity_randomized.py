"""Randomized cross-engine exactness for the embedding similarity family.

Components are drawn as exact binary eighths (k/8, representable in
float32 and float64 alike), so dot products and norms are computed on
identical operand values in identical in-array order on both engines —
the fuzz targets ranking, tie-breaking, and threshold semantics on
vector material the gate never sees (duplicated vectors, zero vectors
avoided by construction, near-duplicate pairs planted deliberately).
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0x51A1
DIM = 64
QUERIES = (
    "q_emb_cosine_topk",
    "q_emb_near_dup_pairs",
    "q_emb_quantize_int8",
)


def _write_embeddings(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    rows = []
    vid = 0

    def vec():
        # eighths in [-2, 2], never all-zero
        v = [rng.randint(-16, 16) / 8.0 for _ in range(DIM)]
        if not any(v):
            v[0] = 0.125
        return v

    def add(v):
        nonlocal vid
        rows.append((vid, v, rng.randint(0, 9)))
        vid += 1

    # planted near-dup clusters: base vector plus one-component nudges
    for _ in range(15):
        base = vec()
        add(base)
        for _ in range(rng.randint(1, 3)):
            v = list(base)
            i = rng.randrange(DIM)
            v[i] = v[i] + rng.choice([-0.125, 0.125])
            add(v)
    # exact duplicates (cosine exactly 1.0 — the threshold boundary)
    dup = vec()
    add(dup)
    add(list(dup))
    # filler
    while vid < 220:
        add(vec())
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/embeddings.parquet")


def _duck_rows(root: str, sql: str):
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"parquet_scan('{root}/embeddings.parquet/*.parquet')"
        )
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("case", range(2))
def test_similarity_family_matches_duckdb_on_planted_clusters(
    spark, tmp_path, case
):
    root = str(tmp_path / f"emb{case}")
    _write_embeddings(spark, root, SEED + case)
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
        assert got, f"{name} returned empty on a cluster-rich corpus"
