"""Misra–Gries heavy hitters: exactness, superset guarantee, invariants."""

from __future__ import annotations

import collections
import random

import pytest

from aircraftutilization_etl_spark.operators.frequency import (
    heavy_hitters,
    misra_gries_partial,
)


def _skewed_rows(n=4000, seed=7):
    # Zipf-ish: a few hot keys over a long uniform tail.
    rng = random.Random(seed)
    rows = []
    for _ in range(n):
        r = rng.random()
        if r < 0.30:
            rows.append(1)
        elif r < 0.45:
            rows.append(2)
        elif r < 0.52:
            rows.append(3)
        else:
            rows.append(rng.randrange(100, 2000))
    return rows


def _exact_model(rows, k):
    n = len(rows)
    counts = collections.Counter(rows)
    return {
        key: (c, c * 1_000_000 // n)
        for key, c in counts.items()
        if c * k > n
    }


@pytest.mark.parametrize("k,parts", [(10, 3), (10, 13), (50, 5)])
def test_heavy_hitters_exact_vs_model(spark, k, parts):
    rows = _skewed_rows()
    df = spark.createDataFrame([(v,) for v in rows], ["key"]).repartition(parts)
    got = {
        r["key"]: (r["n_rows"], r["freq_ppm"])
        for r in heavy_hitters(df, "key", k).collect()
    }
    assert got == _exact_model(rows, k)


def test_partitioning_independent(spark):
    rows = _skewed_rows(seed=11)
    df = spark.createDataFrame([(v,) for v in rows], ["key"])
    a = {tuple(r) for r in heavy_hitters(df.repartition(2), "key", 20).collect()}
    b = {tuple(r) for r in heavy_hitters(df.repartition(17), "key", 20).collect()}
    assert a == b == {
        (key, c, ppm) for key, (c, ppm) in _exact_model(rows, 20).items()
    }


def test_candidates_superset_of_true_heavy_hitters(spark):
    # Adversarial layout: sort so hot keys cluster into few partitions.
    rows = sorted(_skewed_rows(seed=3))
    df = spark.createDataFrame([(v,) for v in rows], ["key"]).repartition(9)
    k = 25
    cands = {
        r["key"] for r in misra_gries_partial(df, "key", k).collect()
    }
    true_hh = set(_exact_model(rows, k))
    assert true_hh <= cands  # MG union may over-generate, never under


def test_mg_estimates_are_lower_bounds(spark):
    rows = _skewed_rows(seed=5)
    counts = collections.Counter(rows)
    df = spark.createDataFrame([(v,) for v in rows], ["key"]).coalesce(1)
    for r in misra_gries_partial(df, "key", 30).collect():
        assert 0 < r["est"] <= counts[r["key"]]


def test_capacity_below_k_rejected(spark):
    df = spark.createDataFrame([(1,)], ["key"])
    with pytest.raises(ValueError):
        misra_gries_partial(df, "key", 0)


class TestCountMinSketch:
    def _stream(self, spark, keys):
        return spark.createDataFrame([(k,) for k in keys], "user_id long")

    def test_never_underestimates_and_exact_when_sparse(self, spark):
        from aircraftutilization_etl_spark.operators.frequency import (
            count_min_build,
            count_min_estimate,
        )

        keys = [1] * 5 + [2] * 3 + [3]
        df = self._stream(spark, keys)
        sketch = count_min_build(df, "user_id")
        est = {
            r.user_id: r.cms_n
            for r in count_min_estimate(
                sketch, df.select("user_id").distinct(), "user_id"
            ).collect()
        }
        # 3 keys in 4x256 cells: collisions are possible but est >= exact
        assert est[1] >= 5 and est[2] >= 3 and est[3] >= 1
        # depth=4 independent rows over 256 cols with 3 keys: the min
        # row is collision-free with overwhelming probability
        assert est == {1: 5, 2: 3, 3: 1}

    def test_sketch_size_is_bounded(self, spark):
        from aircraftutilization_etl_spark.operators.frequency import (
            count_min_build,
        )

        df = self._stream(spark, range(2000))
        assert count_min_build(df, "user_id").count() <= 4 * 256

    def test_sketches_merge_by_cellwise_addition(self, spark):
        from pyspark.sql import functions as F

        from aircraftutilization_etl_spark.operators.frequency import (
            count_min_build,
        )

        a = self._stream(spark, [1, 1, 2])
        b = self._stream(spark, [2, 3])
        merged = (
            count_min_build(a, "user_id")
            .unionByName(count_min_build(b, "user_id"))
            .groupBy("depth", "col")
            .agg(F.sum("cnt").alias("cnt"))
        )
        whole = count_min_build(a.unionByName(b), "user_id")
        sym_diff = merged.exceptAll(whole).count() + whole.exceptAll(merged).count()
        assert sym_diff == 0

    def test_absent_key_estimates_can_be_zero(self, spark):
        from aircraftutilization_etl_spark.operators.frequency import (
            count_min_build,
            count_min_estimate,
        )

        sketch = count_min_build(self._stream(spark, [1, 2]), "user_id")
        est = {
            r.user_id: r.cms_n
            for r in count_min_estimate(
                sketch, self._stream(spark, [99]), "user_id"
            ).collect()
        }
        assert est[99] == 0
