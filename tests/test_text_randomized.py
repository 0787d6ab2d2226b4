"""Randomized cross-engine exactness for the rule-based text family.

The degenerate-text star covers pathological documents (empty strings,
single chars, exotic scripts); these seeded corpora cover the RULE
BOUNDARIES in between: documents engineered to straddle the quality
heuristics' thresholds (word counts, mean word length, stopword and
punctuation ratios computed as exact integer divisions then compared),
plus duplicated and near-empty texts, run end-to-end on Spark and the
DuckDB oracle.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0x7E87
QUERIES = (
    "q_text_quality",
    "q_text_lang_stats",
    "q_text_gopher_rules",
    "q_text_fingerprint",
    "q_top_words",
    "q_text_repetition",
)

STOP = ["the", "a", "of", "to", "and", "in", "is", "it"]


def _write_docs(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    langs = ["en", "fr", "de", "zh", "es"]
    rows = []
    did = 0

    def add(text):
        nonlocal did
        rows.append(
            (did, text, rng.choice(langs), f"src{did % 9}", len(text))
        )
        did += 1

    for _ in range(120):
        style = rng.randrange(6)
        if style == 0:  # stopword-dense (ratio boundary)
            add(" ".join(rng.choice(STOP) for _ in range(rng.randint(3, 60))))
        elif style == 1:  # long rare words (mean-word-length boundary)
            add(" ".join(
                "x" * rng.randint(8, 20) for _ in range(rng.randint(2, 30))
            ))
        elif style == 2:  # punctuation-heavy
            add("!?. " * rng.randint(1, 40))
        elif style == 3:  # repetitious (repetition-rule boundary)
            phrase = " ".join(
                f"w{rng.randint(0, 9)}" for _ in range(rng.randint(1, 4))
            )
            add((phrase + " ") * rng.randint(2, 25))
        elif style == 4:  # ordinary prose-like mix
            add(" ".join(
                rng.choice(STOP + [f"word{rng.randint(0, 300)}"])
                for _ in range(rng.randint(10, 120))
            ))
        else:  # tiny / single-token
            add(rng.choice(["x", "yz", "the", "w1 w2"]))
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
def test_text_rules_match_duckdb_on_boundary_rich_corpora(
    spark, tmp_path, case
):
    root = str(tmp_path / f"corpus{case}")
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
        assert got == want, f"{name} diverged on corpus seed {SEED + case}"
