"""Randomized cross-engine exactness for the quota family.

test_quota.py pins reference replays on hand-built corpora and the
oracle gate pins the fixed testdata; this file adds randomized BREADTH
over the family's cross-engine contract — the full Spark query vs its
DuckDB oracle SQL on seeded corpora the gate never sees, with the
adversarial features the allocators' docstrings promise to handle:

- Zipf-ish source sizes (one monster source, one single-doc source);
- timestamp TIES in the recency rank (the md5 tie-break must agree);
- sources whose entire volume is >62 half-lives stale (decay weight 0
  via the bit shift on BOTH engines);
- (source, lang) cells of size 1 and langs with a single source.

Each corpus is written once to parquet and read by both engines, so a
divergence is an arithmetic/ordering bug, not an IO artifact.
"""

from __future__ import annotations

import random

import duckdb
import pytest

from aircraftutilization_etl_spark.plans import CATALOG
from tests.conftest import query_rows

SEED = 0xBEEF
DOC_QUERIES = (
    "q_quota_per_source",
    "q_quota_budget_allocation",
    "q_quota_per_source_lang",
    "q_quota_floored_allocation",
    "q_quota_budget_two_level",
)
EVENT_QUERIES = ("q_quota_recency_decay",)


def _write_corpus(spark, root, seed: int) -> None:
    rng = random.Random(seed)
    langs = ["en", "fr", "de", "zh", "es"]
    # Zipf-ish: one monster, a mid tail, one singleton source
    sizes = [400] + [rng.randint(5, 60) for _ in range(8)] + [1]
    doc_rows = []
    did = 0
    for si, n in enumerate(sizes):
        src = f"src{si:02d}"
        for _ in range(n):
            doc_rows.append((did, f"text {did}", rng.choice(langs), src, 10))
            did += 1
    spark.createDataFrame(
        doc_rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/documents.parquet")

    import datetime as dt

    base = dt.datetime(2024, 6, 1, 12, 0, 0)
    ev_rows = []
    eid = 0
    for ti, typ in enumerate(["click", "view", "buy", "stale_type"]):
        n = rng.randint(40, 120)
        for _ in range(n):
            if typ == "stale_type":
                # >62 half-lives old at half_life=7: weight 0 by shift
                age = rng.randint(450, 500)
            else:
                age = rng.randint(0, 45)
            # deliberate timestamp ties: quantize to 6-hour slots so
            # many events share an exact ts and the md5 tie-break runs
            ts = base - dt.timedelta(days=age, hours=6 * rng.randint(0, 3))
            ev_rows.append((eid, ts, rng.randint(1, 50), typ, 1.0, "{}"))
            eid += 1
    spark.createDataFrame(
        ev_rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{root}/events.parquet")


def _duck_rows(root: str, sql: str):
    con = duckdb.connect()
    try:
        for t in ("documents", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"parquet_scan('{root}/{t}.parquet/*.parquet')"
            )
        return con.execute(sql).fetchall()
    finally:
        con.close()


@pytest.mark.parametrize("case", range(3))
def test_quota_family_matches_duckdb_on_random_corpora(
    spark, tmp_path, case
):
    root = str(tmp_path / f"corpus{case}")
    _write_corpus(spark, root, SEED + case)
    for name in DOC_QUERIES + EVENT_QUERIES:
        qd = CATALOG[name]
        got = sorted(
            tuple(r) for r in query_rows(spark, qd, root)
        )
        want = sorted(tuple(r) for r in _duck_rows(root, qd.oracle))
        # recency returns (event_id, event_type); docs queries return
        # id/strata columns — all hashable scalars, so tuple compare is
        # exact on both engines
        assert got == want, f"{name} diverged on corpus seed {SEED + case}"
        assert got, f"{name} returned empty on a populated corpus"
