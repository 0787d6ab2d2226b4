"""Quantized k-means: Spark vs an independent numpy replay.

The operator's contract is a deterministic iteration protocol (int8
codes, exact-integer argmin with lowest-index ties, floor-of-ratio
updates, empty cluster keeps its centroid). The test replays that
protocol in numpy from the same raw vectors and demands identical
assignments AND identical exact distances — any drift in seeding,
tie-breaks or update arithmetic shows up as a row diff.
"""

import math

import numpy as np
import pytest

from aircraftutilization_etl_spark.operators.clustering import kmeans_int8


def _quantize(mat: np.ndarray) -> np.ndarray:
    scale = np.abs(mat).max(axis=1, keepdims=True)
    safe = np.where(scale == 0, 1.0, scale)
    q = np.floor(mat * 127.0 / safe)
    return np.where(scale == 0, 0.0, q).astype(np.int64)


def _kmeans_ref(ids, mat, k, iters):
    codes = _quantize(mat)
    order = np.argsort(ids)
    cent = codes[order[:k]].astype(np.int64)

    def assign(c):
        # (n, k) exact integer squared distances
        d = ((codes[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        cl = d.argmin(axis=1)  # first (lowest) index on ties
        return cl, d[np.arange(len(ids)), cl]

    for _ in range(iters):
        cl, _ = assign(cent)
        for c in range(k):
            members = codes[cl == c]
            if len(members):
                cent[c] = np.floor(
                    members.sum(axis=0).astype(np.float64) / len(members)
                ).astype(np.int64)
    cl, dist = assign(cent)
    return {int(i): (int(c), int(d)) for i, c, d in zip(ids, cl, dist)}


def _pq_ref(ids, mat, limit, m, k, iters):
    """Pure-Python replay of the PQ oracle protocol: seeds are the k
    smallest corpus ids (pqseeds), only ids < limit train, argmin ties
    go to the lowest code, updates are floor(sum/count) and an empty
    code keeps its centroid."""
    codes = _quantize(mat)
    sd = codes.shape[1] // m
    vecs = {int(i): [int(v) for v in row] for i, row in zip(ids, codes)}
    order = sorted(vecs)
    sample = [i for i in order if i < limit]
    books = []
    for s in range(m):
        sub = {i: v[s * sd:(s + 1) * sd] for i, v in vecs.items()}
        book = [sub[i] for i in order[:k]]
        for _ in range(iters):
            members = {}
            for i in sample:
                d = [sum((a - b) ** 2 for a, b in zip(sub[i], c)) for c in book]
                members.setdefault(d.index(min(d)), []).append(sub[i])
            book = [
                [sum(col) // len(members[c]) for col in zip(*members[c])]
                if c in members else cent
                for c, cent in enumerate(book)
            ]
        books.append(book)
    return books


@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(7)
    # three DIRECTIONALLY separated blobs + outliers; per-vector max-abs
    # quantization keeps direction, not magnitude, so blob centers are
    # distinct sign patterns rather than distinct offsets
    centers = np.array(
        [
            [3, 3, 3, 3, 0, 0, 0, 0],
            [0, 0, 0, 0, 3, 3, 3, 3],
            [-3, -3, 0, 0, 0, 0, -3, -3],
        ],
        dtype=np.float64,
    )
    blobs = [c + rng.normal(0, 0.3, size=(40, 8)) for c in centers]
    stacked = np.concatenate(blobs + [rng.normal(0, 4, size=(5, 8))])
    # interleave the blobs id-wise so the deterministic min-id seeding
    # starts with one centroid per blob (ids 0,1,2 = one from each)
    order = [b * 40 + j for j in range(40) for b in range(3)] + [120 + i for i in range(5)]
    mat = stacked[np.asarray(order)].astype(np.float32)
    ids = np.arange(len(mat), dtype=np.int64)
    return ids, mat


def test_kmeans_matches_numpy_replay(spark, vectors):
    ids, mat = vectors
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["dist"])
        for r in kmeans_int8(df, k=4, iterations=2).collect()
    }
    want = _kmeans_ref(ids, np.asarray(mat, dtype=np.float64), 4, 2)
    assert got == want


def test_kmeans_separated_blobs_recovered(spark, vectors):
    """Sanity beyond replay-equality: well-separated blobs land in
    distinct clusters (the labels partition the blobs, not the math)."""
    ids, mat = vectors
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_int8(df, k=3, iterations=3).collect()
    label = {r["vec_id"]: r["cluster"] for r in rows}
    blob_labels = []
    for b in range(3):
        members = [label[j * 3 + b] for j in range(40)]
        # each blob is (near-)pure: one dominant cluster
        dominant = max(set(members), key=members.count)
        assert members.count(dominant) >= 36
        blob_labels.append(dominant)
    assert len(set(blob_labels)) == 3  # and the blobs don't collapse


def test_kmeans_all_zero_vectors(spark):
    """All-zero vectors quantize to zeros and cluster deterministically
    (distance 0 to the zero seed); exercises the scale=0 guard."""
    df = spark.createDataFrame(
        [(i, [0.0] * 4) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_int8(df, k=2, iterations=1).collect()
    assert {r["cluster"] for r in rows} == {0}  # ties -> lowest index
    assert all(r["dist"] == 0 for r in rows)


def test_kmeans_distances_are_exact_integers(spark, vectors):
    ids, mat = vectors
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<float>",
    )
    rows = kmeans_int8(df, k=3, iterations=1).collect()
    assert len(rows) == len(ids)
    for r in rows:
        assert isinstance(r["dist"], int) and r["dist"] >= 0
        assert not math.isnan(r["dist"])


class TestProductQuantization:
    def _tiny(self, spark):
        # 6 vectors in 2 obvious groups per subspace, d=4, m=2
        rows = [
            (0, [1.0, 1.0, -1.0, -1.0]),
            (1, [1.0, 0.9, -0.9, -1.0]),
            (2, [-1.0, -1.0, 1.0, 1.0]),
            (3, [-0.9, -1.0, 1.0, 0.9]),
            (4, [1.0, 1.0, 1.0, 1.0]),
            (5, [-1.0, -1.0, -1.0, -1.0]),
        ]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        )

    def test_train_encode_shapes(self, spark):
        from aircraftutilization_etl_spark.operators.clustering import (
            pq_encode,
            pq_train,
        )

        books, scodes = pq_train(
            self._tiny(spark), train_limit=6, m=2, k=2, iterations=2
        )
        assert len(books) == 2 and len(books[0]) == 2
        assert all(len(c) == 2 for book in books for c in book)
        enc = {r["vec_id"]: list(r["codes"]) for r in
               pq_encode(scodes, books).collect()}
        assert set(enc) == {0, 1, 2, 3, 4, 5}
        assert all(len(v) == 2 for v in enc.values())
        # near-identical vectors get identical codes
        assert enc[0] == enc[1]
        assert enc[2] == enc[3]
        # opposite vectors get different codes in every subspace
        assert enc[0][0] != enc[2][0] and enc[0][1] != enc[2][1]
        scodes.unpersist()

    def test_thin_sample_matches_oracle_replay(self, spark, vectors):
        """A training sample holding fewer than k ids: the seeds are
        still the k smallest CORPUS ids, two of them above the limit,
        and only the sample trains."""
        from aircraftutilization_etl_spark.operators.clustering import (
            pq_train,
        )

        ids, mat = vectors
        sparse = ids * 10 + 3  # 3, 13, 23, 33, 43, ...
        df = spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in zip(sparse, mat)],
            "vec_id long, embedding array<float>",
        )
        # sample = {3, 13, 23}: 3 ids < k = 5; seeds 33 and 43 lie above
        books, scodes = pq_train(df, train_limit=30, m=2, k=5, iterations=2)
        scodes.unpersist()
        want = _pq_ref(sparse, np.asarray(mat, dtype=np.float64), 30, 2, 5, 2)
        assert books == want

    def test_adc_equals_lut_sum(self, spark):
        """ADC score of (query, vector) == exact sum of subspace
        distances between the query's subvectors and the vector's
        assigned centroids — verified by recomputing in Python."""
        from aircraftutilization_etl_spark.operators.clustering import (
            pq_adc_topk,
            pq_encode,
            pq_train,
        )
        from aircraftutilization_etl_spark.operators.similarity import (
            quantize_embeddings,
        )

        df = self._tiny(spark)
        books, scodes = pq_train(df, train_limit=6, m=2, k=2, iterations=1)
        enc_df = pq_encode(scodes, books)
        enc = {r["vec_id"]: list(r["codes"]) for r in enc_df.collect()}
        q = {
            r["vec_id"]: list(r["qvec"])
            for r in quantize_embeddings(df).select("vec_id", "qvec").collect()
        }
        out = pq_adc_topk(scodes, enc_df, books, n_queries=2, k_top=6)
        rows = out.collect()
        assert all(r["neighbor_id"] != r["query_id"] for r in rows)
        sd = 2
        for r in rows:
            qv = q[r["query_id"]]
            expected = sum(
                sum(
                    (qv[s * sd + i] - books[s][enc[r["neighbor_id"]][s]][i])
                    ** 2
                    for i in range(sd)
                )
                for s in range(2)
            )
            assert r["adc_dist"] == expected
        scodes.unpersist()


class TestEmptyBranchIdTyping:
    """ADVICE r8 #3: the empty-input short-circuits must derive the id
    field's type from the INPUT schema, not hardcode bigint — a caller
    with an int/string key must see the same schema on empty and
    populated input (the exact drift the empty-input sweep exists to
    prevent)."""

    def test_kmeans_empty_follows_int_id(self, spark):
        populated = spark.createDataFrame(
            [(1, [1.0, 2.0]), (2, [3.0, 4.0])],
            "vec_id int, embedding array<float>",
        )
        empty = populated.limit(0)
        pop_schema = [
            (f.name, f.dataType.simpleString())
            for f in kmeans_int8(populated, k=1, iterations=1).schema.fields
        ]
        empty_schema = [
            (f.name, f.dataType.simpleString())
            for f in kmeans_int8(empty, k=1, iterations=1).schema.fields
        ]
        assert empty_schema == pop_schema
        assert empty_schema[0] == ("vec_id", "int")

    def test_kmeans_empty_follows_string_id(self, spark):
        empty = spark.createDataFrame(
            [], "vec_id string, embedding array<float>"
        )
        out = kmeans_int8(empty, k=1, iterations=1)
        assert out.schema["vec_id"].dataType.simpleString() == "string"
        assert out.count() == 0

    def test_adc_empty_codebooks_follow_int_ids(self, spark):
        from aircraftutilization_etl_spark.operators.clustering import (
            ivfpq_adc_topk,
            pq_adc_topk,
        )

        scodes = spark.createDataFrame([], "vec_id int, qvec array<int>")
        encoded = spark.createDataFrame([], "vec_id int, codes array<int>")
        cells = spark.createDataFrame([], "vec_id int, cluster int")
        flat = pq_adc_topk(scodes, encoded, [], n_queries=2, k_top=2)
        ivf = ivfpq_adc_topk(
            scodes, encoded, [], cells, n_queries=2, k_top=2
        )
        for out in (flat, ivf):
            got = [
                (f.name, f.dataType.simpleString()) for f in out.schema.fields
            ]
            assert got == [
                ("query_id", "int"),
                ("neighbor_id", "int"),
                ("adc_dist", "bigint"),
                ("rank", "int"),
            ]
            assert out.count() == 0
