"""Sequence-packing semantics: greedy fill, oversize handling,
partitioning-independence."""

from __future__ import annotations

import pytest

from aircraftutilization_etl_spark.operators.packing import (
    PACK_CAPACITY,
    pack_sequences,
    packing_efficiency,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_greedy_fill_and_offsets(spark):
    # one bucket (single doc routes per md5, but verify invariants
    # globally): offsets within a sequence are contiguous and fills
    # never exceed capacity except for oversized single docs
    rows = [(i, "w " * (50 * (i % 4 + 1))) for i in range(40)]
    packed = pack_sequences(_docs(spark, rows)).collect()
    by_seq: dict[tuple, list] = {}
    for r in packed:
        by_seq.setdefault((r["bucket"], r["seq_id"]), []).append(r)
    for members in by_seq.values():
        members.sort(key=lambda r: r["offset"])
        fill = 0
        for m in members:
            assert m["offset"] == fill
            fill += m["n_tokens"]
        assert fill <= PACK_CAPACITY  # no doc here exceeds capacity


def test_oversized_doc_gets_own_sequence(spark):
    rows = [(1, "w " * 10), (2, "w " * 500), (3, "w " * 10)]
    packed = pack_sequences(_docs(spark, rows)).collect()
    big = [r for r in packed if r["doc_id"] == 2][0]
    assert big["offset"] == 0  # oversized doc always opens a sequence
    peers = [
        r
        for r in packed
        if (r["bucket"], r["seq_id"]) == (big["bucket"], big["seq_id"])
    ]
    assert peers == [big]  # and shares it with nobody


def test_placement_is_partitioning_independent(spark):
    rows = [(i, "word " * (i % 7 + 3) * 10) for i in range(60)]
    df = _docs(spark, rows)
    a = {tuple(r) for r in pack_sequences(df).collect()}
    b = {tuple(r) for r in pack_sequences(df.repartition(13)).collect()}
    assert a == b


def test_efficiency_audit_exact(spark):
    rows = [(i, "w " * 100) for i in range(8)]
    packed = pack_sequences(_docs(spark, rows))
    audit = packing_efficiency(packed).collect()
    total_seqs = sum(r["n_sequences"] for r in audit)
    total_tokens = sum(r["n_tokens"] for r in audit)
    assert total_tokens == 800
    for r in audit:
        assert 0 < r["fill_ppm"] <= 1_000_000
    # budget is never under-counted: fill over all buckets ≤ capacity·seqs
    assert total_tokens <= total_seqs * PACK_CAPACITY


class TestPaddingAudit:
    @pytest.fixture(scope="class")
    def docs(self, spark):
        # lengths 1..40 words over 40 docs: spans buckets 16/32/64
        rows = [(i, " ".join(["w"] * ((i % 40) + 1))) for i in range(40)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_conservation_and_policies(self, docs):
        from aircraftutilization_etl_spark.operators.packing import padding_audit

        out = padding_audit(docs).collect()
        policies = {r.policy for r in out}
        assert policies == {"bucketed", "global"}
        total_actual = sum(
            r.actual_tokens for r in out if r.policy == "bucketed"
        )
        g = [r for r in out if r.policy == "global"]
        assert len(g) == 1 and g[0].bucket is None
        # both policies cover the same corpus
        assert g[0].actual_tokens == total_actual
        assert g[0].n_docs == sum(r.n_docs for r in out if r.policy == "bucketed")
        for r in out:
            assert r.padded_tokens >= r.actual_tokens
            assert 0 <= r.waste_ppm < 1_000_000

    def test_bucketing_cannot_increase_waste(self, docs):
        from aircraftutilization_etl_spark.operators.packing import padding_audit

        out = padding_audit(docs).collect()
        bucketed_padded = sum(
            r.padded_tokens for r in out if r.policy == "bucketed"
        )
        global_padded = [r for r in out if r.policy == "global"][0].padded_tokens
        # same-order greedy batching over length-homogeneous buckets pads
        # no more than batching the full shuffled corpus on this fixture
        assert bucketed_padded <= global_padded

    def test_overflow_bucket_is_null(self, spark):
        from aircraftutilization_etl_spark.operators.packing import padding_audit

        docs = spark.createDataFrame(
            [(1, " ".join(["w"] * 100)), (2, "a b")],
            "doc_id long, text string",
        )
        out = padding_audit(docs).collect()
        overflow = [r for r in out if r.policy == "bucketed" and r.bucket is None]
        assert len(overflow) == 1 and overflow[0].n_docs == 1

    def test_partitioning_invariant(self, docs):
        from aircraftutilization_etl_spark.operators.packing import padding_audit

        a = {tuple(r) for r in padding_audit(docs).collect()}
        b = {tuple(r) for r in padding_audit(docs.repartition(7)).collect()}
        assert a == b
