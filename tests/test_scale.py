"""Scale-pattern tests: salted joins are result-identical and actually
spread hot keys; Bloom pruning keeps the plain join's result."""

from __future__ import annotations

from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.scale import salted_join


def test_salted_join_matches_plain_join(spark):
    # hot key 1 dominates
    skewed = spark.createDataFrame(
        [(1, f"e{i}") for i in range(500)] + [(2, "x"), (3, "y")],
        "k long, payload string",
    )
    small = spark.createDataFrame(
        [(1, "hot"), (2, "warm"), (4, "unmatched")], "k long, label string"
    )
    plain = skewed.join(small, "k").select("k", "payload", "label")
    salted = salted_join(skewed, small, "k").select("k", "payload", "label")
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salting_spreads_hot_key(spark):
    skewed = spark.createDataFrame(
        [(1, f"e{i}") for i in range(200)], "k long, payload string"
    )
    salt = F.pmod(F.xxhash64(*skewed.columns), F.lit(8)).cast("int")
    n_subkeys = skewed.withColumn("s", salt).select("k", "s").distinct().count()
    assert n_subkeys >= 6  # one hot key becomes ~8 disjoint join keys


# --- Bloom-filter join pruning -------------------------------------------


def test_bloom_prune_join_matches_plain_join(spark):
    from aircraftutilization_etl_spark.operators.scale import bloom_prune_join

    probe = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    build = spark.range(0, 200).select(
        (F.col("id") * 101).alias("k"), F.lit("b").alias("tag")
    )
    got = bloom_prune_join(probe, build, "k").orderBy("k").collect()
    want = probe.join(build, "k").orderBy("k").collect()
    assert got == want


def test_bloom_filter_has_no_false_negatives(spark):
    from aircraftutilization_etl_spark.operators.scale import (
        bloom_filter_words,
        bloom_might_contain,
    )

    keys = spark.range(0, 1000).select((F.col("id") * 13 + 7).alias("k"))
    words = bloom_filter_words(keys, "k", m_bits=1 << 14, k_hashes=5)
    # every inserted key must test positive
    hits = keys.filter(
        bloom_might_contain(words, "k", m_bits=1 << 14, k_hashes=5)
    ).count()
    assert hits == 1000


def test_bloom_filter_prunes_most_non_members(spark):
    from aircraftutilization_etl_spark.operators.scale import (
        bloom_filter_words,
        bloom_might_contain,
    )

    build = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    probe = spark.range(100_000, 150_000).select(F.col("id").alias("k"))
    words = bloom_filter_words(build, "k", m_bits=1 << 17, k_hashes=5)
    passed = probe.filter(
        bloom_might_contain(words, "k", m_bits=1 << 17, k_hashes=5)
    ).count()
    # disjoint ranges: everything passing is a false positive; with
    # 500 keys in 2^17 bits and 5 hashes the fp rate is ~1e-9 — allow
    # a generous margin and still prove >99% pruning
    assert passed < 500
