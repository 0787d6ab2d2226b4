"""Randomized cross-engine exactness for the URL/domain curation family.

tests/test_url_fixtures.py pins the canonicalization chain on literal
hand-written URLs and the oracle gate pins the fixed testdata; this
file adds randomized BREADTH (the r10 fuzz-layer pattern): the full
Spark query vs its DuckDB oracle SQL on seeded corpora the gate never
sees, with the family's adversarial features:

- a Zipf MONSTER source (one registrable domain owning ~40% of the
  corpus — the cap, quota and admission Zipf-head paths all engage);
- singleton sources (domains with one document — quota remainder and
  cap-under-k branches);
- the gate corpus's own source names (src0..src9) mixed in, so the
  literal blocklist and both public-suffix branches keep biting;
- doc_id ranges far from the gate's (md5 nibble variety: different
  case/www/port/param/fragment mess per corpus).

Every query derives url/canonical_url/domain from (doc_id, source)
md5 nibbles on BOTH engines independently — a divergence is a string-
surgery or ordering bug, not an IO artifact.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0x0C11
QUERIES = (
    "q_url_canonical",
    "q_url_dedup",
    "q_domain_caps",
    "q_domain_admission",
    "q_domain_blocklist",
    "q_domain_quota",
)


def _write_corpus(spark, root: str, seed: int) -> None:
    rng = random.Random(seed)
    langs = ["en", "fr", "de", "zh"]
    sources = (
        [f"src{i}" for i in range(10)]  # gate names: blocklist bites
        + [f"fuzz-{rng.randint(100, 999)}" for _ in range(6)]
        + ["lonely-a", "lonely-b"]  # singleton domains
    )
    # Zipf head: the monster source owns ~40% of the corpus
    weights = [40] + [rng.randint(2, 12) for _ in sources[1:-2]] + [1, 1]
    rows = []
    base_id = rng.randint(0, 10**6) * 100  # md5 variety across corpora
    did = base_id
    for src, w in zip(sources, weights):
        for _ in range(w * 3):
            rows.append(
                (did, f"t{did}", rng.choice(langs), src, rng.randint(20, 900))
            )
            did += 1
    rng.shuffle(rows)
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
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


@pytest.mark.parametrize("case", range(3))
def test_url_family_matches_duckdb_on_random_corpora(spark, tmp_path, case):
    root = str(tmp_path / f"corpus{case}")
    _write_corpus(spark, root, SEED + case)
    for name in QUERIES:
        qd = CATALOG[name]
        got = sorted(tuple(r) for r in query_rows(spark, qd, root))
        want = sorted(tuple(r) for r in _duck_rows(root, qd.oracle))
        assert got == want, f"{name} diverged on corpus seed {SEED + case}"
        assert got, f"{name} returned empty on a populated corpus"


def test_monster_domain_is_actually_capped(spark, tmp_path):
    """The Zipf head must engage the cap/admission branches: the
    monster source's domain returns exactly DOMAIN_CAP rows from both
    cap queries while a singleton domain keeps its one document."""
    from collections import Counter

    from aircraftutilization_etl_spark.plans.url import DOMAIN_CAP

    root = str(tmp_path / "corpus")
    _write_corpus(spark, root, SEED)
    for name in ("q_domain_caps", "q_domain_admission"):
        rows = query_rows(spark, CATALOG[name], root)
        by_dom = Counter(r.domain for r in rows)
        assert max(by_dom.values()) == DOMAIN_CAP, name
        assert min(by_dom.values()) >= 1, name
