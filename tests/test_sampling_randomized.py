"""Randomized cross-engine exactness for the md5-placement family.

tests/test_shared_fragment_pins.py anchors the shared md5 split/shard/
mix fragments to a THIRD implementation (hashlib) on the fixed
testdata; this file adds randomized BREADTH: seeded corpora with id
spaces the gate never sees (negative ids, huge ids, sparse ids,
duplicate-free shuffled ranges), each placement query run end-to-end
on Spark AND its DuckDB oracle over the same parquet — a two-sided bug
in the shared placement fragment would have to reproduce on arbitrary
id material to survive this.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0xFACE
QUERIES = (
    "q_split_train_val",
    "q_sample_stratified",
    "q_shard_order",
    "q_split_kfold",
    "q_sample_temperature",
    # composed documents pipelines on the same random corpora
    "q_mix_epochs",
    "q_token_budget_select",
    "q_curation_funnel",
    "q_contamination_report",
)


def _write_docs(spark, root, seed: int, id_style: str) -> None:
    rng = random.Random(seed)
    langs = ["en", "fr", "de", "zh", "es"]
    n = 600
    if id_style == "sparse_huge":
        ids = rng.sample(range(10**14, 10**15), n)
    elif id_style == "shuffled_range":
        ids = list(range(n))
        rng.shuffle(ids)
    else:
        raise ValueError(id_style)
    rows = [
        (
            i,
            f"document body {i} " + " ".join(
                f"w{rng.randint(0, 999)}" for _ in range(6)
            ),
            rng.choice(langs),
            f"src{rng.randint(0, 19):02d}",
            25,
        )
        for i in ids
    ]
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


@pytest.mark.parametrize("id_style", ["sparse_huge", "shuffled_range"])
def test_placement_family_matches_duckdb_on_random_ids(
    spark, tmp_path, id_style
):
    root = str(tmp_path / f"corpus_{id_style}")
    _write_docs(spark, root, SEED, id_style)
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
        assert got == want, f"{name} diverged ({id_style})"
        # contamination against the fixed benchmark shingle set is
        # legitimately empty on random prose — the row-set equality
        # above is the check there
        if name != "q_contamination_report":
            assert got, f"{name} returned empty on a populated corpus"
