"""Contract of operators/distribute.py: the one module that decides
spread width, exchange width, and cache level and lifetime."""

import ast
import contextlib
import pathlib

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

import aircraftutilization_etl_spark
from aircraftutilization_etl_spark.operators.distribute import (
    CORPUS_CACHE,
    MODEL_CACHE,
    _estimated_scan_splits,
    cache,
    cache_scope,
    ensure_scan_parallelism,
    scan_spread_width,
    shuffle_width,
)

MAX_PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"


@contextlib.contextmanager
def _session_conf(spark, key, value):
    """Set ``key`` for the block (no-op for None), then restore it."""
    prev = spark.conf.get(key, None)
    if value is not None:
        spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.mark.parametrize(
    "files, max_partition_bytes",
    [(1, None), (8, None), (1, "131072")],
    ids=["one_small_file", "eight_small_files", "one_file_many_splits"],
)
def test_split_estimate_matches_exact_probe(
    spark, tmp_path, files, max_partition_bytes
):
    path = str(tmp_path / "t")
    # ~1 MB of incompressible hex: small against the default 128 MB
    # split, several splits against a 128 KB one
    spark.range(20_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("h")
    ).repartition(files).write.parquet(path)
    parallelism = spark.sparkContext.defaultParallelism
    before = spark.conf.get(MAX_PARTITION_BYTES, None)
    with _session_conf(spark, MAX_PARTITION_BYTES, max_partition_bytes):
        df = spark.read.parquet(path)
        exact = df.rdd.getNumPartitions()
        assert _estimated_scan_splits(df) == exact
        if max_partition_bytes is not None:
            assert exact > parallelism
        assert (ensure_scan_parallelism(df) is df) == (exact >= parallelism)
    assert spark.conf.get(MAX_PARTITION_BYTES, None) == before


def test_post_shuffle_frame_is_sized_by_its_source_scan(spark, tmp_path):
    path = str(tmp_path / "src")
    spark.range(100).coalesce(1).write.parquet(path)
    agg = (
        spark.read.parquet(path)
        .withColumn("key", F.col("id") % 7)
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = ensure_scan_parallelism(agg, "key")._jdf.queryExecution().analyzed()
    assert plan.nodeName() == "RepartitionByExpression"
    assert plan.numPartitions() == spark.sparkContext.defaultParallelism
    keys = plan.partitionExpressions()
    assert keys.size() == 1 and keys.head().name() == "key"


def test_non_file_frame_falls_back_to_exact_probe(spark):
    df = spark.range(10, numPartitions=1)
    assert _estimated_scan_splits(df) is None
    assert scan_spread_width(df) == spark.sparkContext.defaultParallelism


def test_shuffle_width_reads_session_conf(spark):
    assert shuffle_width(spark) == 4


def test_layout_decisions_live_only_in_distribute():
    """Spread probes, shuffle-width reads and storage levels are decided
    in operators/distribute.py and nowhere else in the package."""
    package = pathlib.Path(aircraftutilization_etl_spark.__file__).parent
    home = package / "operators" / "distribute.py"
    tokens = (
        "getNumPartitions",
        '"spark.sql.shuffle.partitions"',
        "StorageLevel",
        "_estimated_scan_splits",
    )
    sites = [
        (str(p.relative_to(package)), n, line.strip())
        for p in sorted(package.rglob("*.py"))
        if p != home
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if any(t in line for t in tokens)
    ]
    assert sites == []


def test_caches_are_made_only_through_distribute():
    """No module of the package calls ``.persist(``, ``.unpersist(`` or
    ``.cache()`` except operators/distribute.py: every cache goes
    through ``cache``, so a scope releases it."""
    package = pathlib.Path(aircraftutilization_etl_spark.__file__).parent
    home = package / "operators" / "distribute.py"
    sites = [
        (str(p.relative_to(package)), node.lineno, node.func.attr)
        for p in sorted(package.rglob("*.py"))
        if p != home
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and (
            node.func.attr in ("persist", "unpersist")
            or (node.func.attr == "cache" and not node.args)
        )
    ]
    assert sites == []


def test_scope_releases_its_caches_on_exception(spark):
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError):
        with cache_scope():
            df = cache(spark.range(5), CORPUS_CACHE)
            assert df.count() == 5
            assert df.storageLevel == CORPUS_CACHE
            raise RuntimeError("action failed")
    assert df.storageLevel == StorageLevel.NONE


def test_nested_scope_releases_only_its_own_caches(spark):
    spark.catalog.clearCache()
    with cache_scope():
        outer = cache(spark.range(7), MODEL_CACHE)
        with cache_scope():
            inner = cache(spark.range(11), CORPUS_CACHE)
            # an outer scope's cache stays registered with the outer one
            assert cache(spark.range(7), CORPUS_CACHE).storageLevel == MODEL_CACHE
        assert inner.storageLevel == StorageLevel.NONE
        assert outer.storageLevel == MODEL_CACHE
    assert outer.storageLevel == StorageLevel.NONE


def test_cache_outside_a_scope_is_a_plain_persist(spark):
    spark.catalog.clearCache()
    with cache_scope():
        pass
    df = cache(spark.range(13), CORPUS_CACHE)
    with cache_scope():
        assert df.count() == 13
    assert df.storageLevel == CORPUS_CACHE
    spark.catalog.clearCache()
    assert df.storageLevel == StorageLevel.NONE
