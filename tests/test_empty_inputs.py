"""Empty-input contracts of the driver-side-model operators.

At 100 TB the empty case is routine (a filter matching nothing, a
pruned partition, an empty tenant), and the operators that collect a
driver-side model (query matrix, centroids, PQ codebooks) are exactly
the ones a zero-row input can crash: np.stack refuses an empty list,
and a zero-centroid literal array is an unresolvable NULL-typed
expression. These tests pin the contract: a typed EMPTY result with
the operator's normal schema — never an exception — mirroring what
each query's DuckDB oracle computes over empty tables.

The catalog-wide realization is swept by tools/check_empty_inputs.py
(all 224 queries on zero-row tables, schema compared against the
populated run); these unit tests keep the operator-level guarantee
fast enough for every CI run.
"""

from __future__ import annotations

import pytest

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame([], EMB_SCHEMA)


@pytest.fixture(scope="module")
def small_emb(spark):
    rows = [(i, [float(i), 1.0, 0.0, -1.0], i % 2) for i in range(6)]
    return spark.createDataFrame(rows, EMB_SCHEMA)


def test_cosine_topk_empty_queries(spark, empty_emb, small_emb):
    from aircraftutilization_etl_spark.operators.similarity import cosine_topk

    out = cosine_topk(empty_emb, small_emb, 3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "cosine", "rank",
    ]


def test_cosine_topk_empty_corpus(spark, empty_emb, small_emb):
    from aircraftutilization_etl_spark.operators.similarity import cosine_topk

    out = cosine_topk(small_emb, empty_emb, 3)
    assert out.count() == 0


def test_cosine_best_match_empty_refs(spark, empty_emb, small_emb):
    from aircraftutilization_etl_spark.operators.similarity import (
        cosine_best_match,
    )

    out = cosine_best_match(small_emb, empty_emb)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "vec_id", "best_ref_id", "cosine",
    ]


def test_kmeans_empty_input(spark, empty_emb):
    from aircraftutilization_etl_spark.operators.clustering import kmeans_int8

    out = kmeans_int8(empty_emb, k=4, iterations=2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "cluster", "dist"]

    out2, model = kmeans_int8(empty_emb, k=4, iterations=2, return_model=True)
    assert out2.count() == 0
    assert model == []


def test_pq_train_and_adc_empty_input(spark, empty_emb):
    from aircraftutilization_etl_spark.operators.clustering import (
        ivfpq_adc_topk,
        pq_adc_topk,
        pq_train,
    )

    books, scodes = pq_train(empty_emb, train_limit=0, m=2, k=4, iterations=1)
    assert books == []
    assert scodes.count() == 0

    out = pq_adc_topk(scodes, scodes, books, n_queries=5, k_top=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "query_id", "neighbor_id", "adc_dist", "rank",
    ]

    cells = spark.createDataFrame([], "vec_id long, cluster int")
    out = ivfpq_adc_topk(scodes, scodes, books, cells, n_queries=5, k_top=3)
    assert out.count() == 0


def test_pq_train_empty_with_train_limit(spark, empty_emb):
    """A positive limit on an empty corpus keeps the same empty
    contract (both the id-prefix sample and the seeds are empty)."""
    from aircraftutilization_etl_spark.operators.clustering import pq_train

    books, scodes = pq_train(empty_emb, m=2, k=4, iterations=1,
                             train_limit=100)
    assert books == []
    assert scodes.count() == 0


def test_populated_paths_unchanged(spark, small_emb):
    """The guards must be pure short-circuits: populated inputs keep
    producing non-empty, correctly-shaped results."""
    from aircraftutilization_etl_spark.operators.clustering import kmeans_int8
    from aircraftutilization_etl_spark.operators.similarity import (
        cosine_best_match,
        cosine_topk,
    )

    topk = cosine_topk(small_emb.filter("vec_id < 2"), small_emb, 2)
    assert topk.count() == 4  # 2 queries x k=2

    best = cosine_best_match(
        small_emb.filter("label = 1"), small_emb.filter("label = 0")
    )
    assert best.count() == 3  # one best ref per odd-id row

    km = kmeans_int8(small_emb, k=2, iterations=1)
    assert km.count() == 6


def test_zero_byte_media_assets_emit_no_features_or_hash(spark):
    """A zero-byte asset has no feature vector (0/0 weights) and no
    perceptual hash (an all-'0' sentinel would band-collide every
    empty asset with every other — quadratic false pairs at crawl
    scale); non-empty assets in the same batch still flow through."""
    from aircraftutilization_etl_spark.operators.multimodal import (
        attach_fake_media,
        extract_features,
        perceptual_hash,
    )

    docs = spark.createDataFrame(
        [(0, "", "en", "web", 0), (1, "   ", "en", "web", 3),
         (2, "x", "en", "web", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    media = attach_fake_media(docs)
    feats = extract_features(media).collect()
    assert sorted(r["asset_id"] for r in feats) == [1, 2]
    hashes = perceptual_hash(media).collect()
    assert sorted(r["asset_id"] for r in hashes) == [1, 2]
    assert all(len(r["phash"]) == 32 for r in hashes)


def test_rollup_on_empty_engine_semantics_pinned(spark):
    """The 4 documented empty-gate divergences are ENGINE semantics:
    Spark's Expand-based ROLLUP emits no () grand-total row over zero
    input rows; DuckDB (ANSI) emits one. Pin both so an engine upgrade
    that changes either side surfaces here instead of as a silent
    shift in the degenerate-star sweep results."""
    import duckdb

    spark_rows = spark.sql(
        "SELECT a, count(*) AS n FROM VALUES (1) t(a) WHERE a > 99 "
        "GROUP BY ROLLUP(a)"
    ).collect()
    assert spark_rows == []
    duck_rows = duckdb.sql(
        "SELECT a, count(*) AS n FROM (VALUES (1)) t(a) WHERE a > 99 "
        "GROUP BY ROLLUP(a)"
    ).fetchall()
    assert duck_rows == [(None, 0)]
