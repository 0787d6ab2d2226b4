"""Plan diagnostics: the user-facing pre-flight checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aircraftutilization_etl_spark.diagnostics import (
    assert_scalable,
    python_nodes,
    scan_schemas,
)
from tests.conftest import count_exchanges


def test_python_nodes_classification(spark):
    jvm = spark.range(100).select((F.col("id") * 2).alias("x"))
    assert python_nodes(jvm) == {}

    arrow = spark.range(100).mapInPandas(lambda it: it, "id long")
    assert python_nodes(arrow) == {"arrow": ["MapInPandas"]}

    @F.udf("long")
    def slow(x):
        return x + 1

    row = spark.range(100).select(slow("id"))
    assert python_nodes(row) == {"row": ["BatchEvalPython"]}


def test_count_exchanges(spark):
    none = spark.range(100).select("id")
    assert count_exchanges(none) == 0
    one = spark.range(100).groupBy((F.col("id") % 3)).count()
    assert count_exchanges(one) >= 1


def test_scan_schema_shows_pruning(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.range(10).select(
        "id", (F.col("id") * 2).alias("a"), (F.col("id") * 3).alias("b")
    ).write.parquet(p)
    narrow = spark.read.parquet(p).select("a")
    schemas = scan_schemas(narrow)
    assert len(schemas) == 1
    assert "a:" in schemas[0] and "b:" not in schemas[0]


def test_assert_scalable_guards(spark):
    @F.udf("long")
    def slow(x):
        return x + 1

    with pytest.raises(AssertionError, match="row-at-a-time"):
        assert_scalable(spark.range(10).select(slow("id")))

    assert_scalable(spark.range(10).mapInPandas(lambda it: it, "id long"))
    assert_scalable(spark.range(100).groupBy((F.col("id") % 3)).count())


class TestAdvise:
    def test_clean_plan_has_no_findings(self, spark):
        from aircraftutilization_etl_spark.diagnostics import advise

        df = (
            spark.range(100)
            .groupBy((F.col("id") % 5).alias("k"))
            .count()
        )
        assert advise(df) == []

    def test_flags_single_partition_window(self, spark):
        from pyspark.sql.window import Window

        from aircraftutilization_etl_spark.diagnostics import advise

        df = spark.range(100).withColumn(
            "rn", F.row_number().over(Window.orderBy("id"))
        )
        assert any("single-partition" in f for f in advise(df))

    def test_flags_cartesian_and_nested_loop(self, spark):
        from aircraftutilization_etl_spark.diagnostics import advise

        a = spark.range(10)
        b = spark.range(10).withColumnRenamed("id", "id2")
        cross = a.crossJoin(b)
        assert any("cartesian" in f.lower() or "nested-loop" in f.lower()
                   for f in advise(cross))
        theta = a.join(b, a.id < b.id2)
        assert any("nested-loop" in f for f in advise(theta))
