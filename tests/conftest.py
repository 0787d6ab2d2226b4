import re
import tempfile

import pytest
from pyspark.sql import SparkSession

from aircraftutilization_etl_spark.diagnostics import executed_plan
from aircraftutilization_etl_spark.operators.distribute import cache_scope


@pytest.fixture(scope="session")
def spark():
    warehouse = tempfile.mkdtemp(prefix="spark-warehouse-")
    session = (
        SparkSession.builder.master("local[4]")
        .appName("aircraftutilization-etl-spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", warehouse)
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(autouse=True)
def _drop_unscoped_caches(request):
    """An operator called outside any cache scope leaves a plain
    persist; drop it after the test, so no test inherits another's."""
    yield
    if "spark" in request.fixturenames:
        request.getfixturevalue("spark").catalog.clearCache()


def query_rows(spark, qd, sf_dir):
    """Rows of catalog query ``qd`` over ``sf_dir``, built and collected
    inside one cache scope, as every consumer of the catalog runs it."""
    with cache_scope():
        return qd.spark(spark, sf_dir).collect()


def rows_sorted(df, *keys):
    """Canonicalized rows for order-insensitive comparison (SURVEY.md §4.4.4)."""
    return sorted(
        (tuple(row) for row in df.collect()),
        key=lambda t: tuple((v is None, v) for v in t),
    ) if not keys else [tuple(r) for r in df.orderBy(*keys).collect()]


def count_exchanges(df):
    """Number of Exchange (shuffle/broadcast-build) operators in the
    executed plan; reused exchanges (AQE stage reuse) appear once."""
    return len(
        re.findall(r"\bExchange\b|\bBroadcastExchange\b", executed_plan(df))
    )
