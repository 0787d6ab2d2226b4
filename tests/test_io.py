"""IO-layer tests: empty-fallback reads, versioned state commits, sinks.

Mirrors the reference's connector tests (src/tests/plugins/common/
test_s3.py:38-84 — round-trip, NoSuchKey→empty) without the moto mock:
paths are local Hadoop-FS paths, the same code path as s3a:// URIs.
"""

import datetime as dt
import inspect
import pathlib

import pytest

import aircraftutilization_etl_spark
from aircraftutilization_etl_spark.errors import InvalidSource
from aircraftutilization_etl_spark.schemas import (
    SOURCE_SCHEMA,
    empty_df,
    require_columns,
)
from aircraftutilization_etl_spark.sources.parquet_io import (
    StateStore,
    hadoop_fs,
    read_parquet_or_empty,
)
from aircraftutilization_etl_spark.sources.sinks import append_facts, retention_purge


def test_read_missing_path_yields_typed_empty(spark, tmp_path):
    df = read_parquet_or_empty(spark, str(tmp_path / "nope"), SOURCE_SCHEMA)
    assert df.count() == 0
    assert df.schema == SOURCE_SCHEMA


def test_read_roundtrip(spark, tmp_path):
    path = str(tmp_path / "rt")
    src = spark.createDataFrame(
        [("a23456", 1712338235, 18.41, 6.11, 0, 1712338235, "climb", False)],
        SOURCE_SCHEMA,
    )
    src.write.parquet(path)
    back = read_parquet_or_empty(spark, path, SOURCE_SCHEMA)
    assert back.collect() == src.collect()


def test_require_columns_raises(spark):
    df = spark.createDataFrame([("a", 1)], "icao24 string, last_contact int")
    with pytest.raises(InvalidSource):
        require_columns(df, [f.name for f in SOURCE_SCHEMA.fields])


def test_state_store_empty_then_commit_then_read(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), SOURCE_SCHEMA)
    assert store.read().count() == 0  # missing manifest → typed empty

    gen1 = spark.createDataFrame(
        [("a23456", 1, 2.0, 3.0, 0, 1, "climb", True)], SOURCE_SCHEMA
    )
    store.commit(gen1)
    assert store.read().count() == 1

    # read-own-output cycle: derive gen2 FROM the store's own read —
    # the reference's self-clobbering hazard (SURVEY.md §4.4.1)
    current = store.read()
    gen2 = current.withColumn("last_contact", current["last_contact"] + 1)
    store.commit(gen2)
    row = store.read().first()
    assert row["last_contact"] == 2
    assert len(store.versions()) == 2


def test_state_store_vacuum(spark, tmp_path):
    store = StateStore(spark, str(tmp_path / "state"), SOURCE_SCHEMA)
    for i in range(4):
        store.commit(
            spark.createDataFrame(
                [("x", i, 0.0, 0.0, 0, i, None, True)], SOURCE_SCHEMA
            )
        )
    store.vacuum(keep=2)
    assert store.read().first()["last_contact"] == 3  # current survives
    assert len(store.versions()) <= 2


def test_state_store_recovers_from_missing_manifest(spark, tmp_path):
    """Crash window: manifest gone but generations exist → newest wins.

    Simulates an interrupted manifest swap on a non-atomic filesystem;
    read() must resolve the newest generation instead of silently
    dropping all session state (ADVICE r1, parquet_io manifest window).
    """
    root = tmp_path / "state"
    store = StateStore(spark, str(root), SOURCE_SCHEMA)
    store.commit(
        spark.createDataFrame([("x", 1, 0.0, 0.0, 0, 1, None, True)], SOURCE_SCHEMA)
    )
    store.commit(
        spark.createDataFrame([("x", 2, 0.0, 0.0, 0, 2, None, True)], SOURCE_SCHEMA)
    )
    (root / StateStore.MANIFEST).unlink()  # crash between delete and rename
    assert store.read().first()["last_contact"] == 2


def test_vacuum_keeps_crash_recovered_generation(spark, tmp_path):
    """Without a manifest the current generation is the newest ``v_*``
    one; vacuum must protect it exactly like a manifest entry instead
    of deleting every generation."""
    root = tmp_path / "state"
    store = StateStore(spark, str(root), SOURCE_SCHEMA)
    for i in range(3):
        store.commit(
            spark.createDataFrame(
                [("x", i, 0.0, 0.0, 0, i, None, True)], SOURCE_SCHEMA
            )
        )
    (root / StateStore.MANIFEST).unlink()
    current = store.current_version()
    last_contact = store.read().first()["last_contact"]
    store.vacuum(keep=1)
    assert store.versions() == [current]
    assert store.current_version() == current
    assert [r["last_contact"] for r in store.read().collect()] == [last_contact]


def test_append_facts_skips_empty(spark, tmp_path):
    from aircraftutilization_etl_spark.schemas import COMPLETE_FLIGHTS_SCHEMA

    path = tmp_path / "facts"
    empty = empty_df(spark, COMPLETE_FLIGHTS_SCHEMA)
    assert append_facts(empty, str(path)) is False
    # an empty batch against an existing sink writes nothing either
    facts = spark.createDataFrame(
        [("aaa111", 10, dt.datetime(2026, 8, 1, 12), None, None, None, None, None, None)],
        COMPLETE_FLIGHTS_SCHEMA,
    )
    assert append_facts(facts, str(path)) is True
    files = sorted(path.rglob("*.parquet"))
    assert append_facts(empty, str(path)) is False
    assert sorted(path.rglob("*.parquet")) == files


def test_get_file_system_has_one_call_site():
    """Every Hadoop-FS lookup in the package goes through ``hadoop_fs``."""
    package = pathlib.Path(aircraftutilization_etl_spark.__file__).parent
    sites = [
        (str(p.relative_to(package)), n)
        for p in sorted(package.rglob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if "getFileSystem" in line
    ]
    assert len(sites) == 1, sites
    assert sites[0][0] == "sources/parquet_io.py"
    assert "getFileSystem" in inspect.getsource(hadoop_fs)


def test_append_facts_partitions_by_date_and_ttl(spark, tmp_path):
    from aircraftutilization_etl_spark.schemas import COMPLETE_FLIGHTS_SCHEMA

    path = str(tmp_path / "facts")
    facts = spark.createDataFrame(
        [
            ("old999", 10, dt.datetime(2020, 1, 1, 12), None, None, None, None, None, None),
            ("new111", 20, dt.datetime(2026, 8, 1, 12), None, None, None, None, None, None),
        ],
        COMPLETE_FLIGHTS_SCHEMA,
    )
    assert append_facts(facts, path) is True
    dropped = retention_purge(
        spark, path, retention_days=365, now=dt.datetime(2026, 8, 13, tzinfo=dt.timezone.utc)
    )
    assert dropped == ["landed_date=2020-01-01"]
    remaining = spark.read.parquet(path)
    assert [r["icao24"] for r in remaining.collect()] == ["new111"]


def test_append_facts_replay_straddling_partial_write(spark, tmp_path):
    """The remaining at-least-once window (VERDICT r4 #5): a landing
    batch straddles TWO date partitions (a red-eye over midnight), the
    first append crashes after committing only part of the batch —
    one whole partition plus a fragment of the other — and the batch
    is then replayed in full. The (icao24, landed_at) anti-join guard
    must top up exactly the missing rows: no duplicates, no gaps.

    Parquet append atomicity is per task-file (uncommitted _temporary
    output is invisible to readers), so a crash can only expose a
    row-complete prefix of the batch — exactly what this simulates.
    The guard assumes a single writer per sink (the reference's Airflow
    cadence); concurrent identical appends could both pass the
    pre-write scan, which orchestration-level serialization closes.
    """
    from aircraftutilization_etl_spark.schemas import COMPLETE_FLIGHTS_SCHEMA

    path = str(tmp_path / "facts")
    d1 = dt.datetime(2026, 8, 1, 23, 58)
    d2 = dt.datetime(2026, 8, 2, 0, 7)
    rows = [
        ("aaa111", 10, d1, None, None, None, None, None, None),
        ("bbb222", 12, d1, None, None, None, None, None, None),
        ("ccc333", 15, d2, None, None, None, None, None, None),
        ("ddd444", 17, d2, None, None, None, None, None, None),
    ]
    batch = spark.createDataFrame(rows, COMPLETE_FLIGHTS_SCHEMA)
    # crash after the Aug-1 partition and HALF of the Aug-2 partition
    partial = spark.createDataFrame(rows[:3], COMPLETE_FLIGHTS_SCHEMA)
    assert append_facts(partial, path) is True
    # full replay of the original batch
    assert append_facts(batch, path) is True
    got = sorted(
        (r["icao24"], r["landed_at"], r["landed_date"])
        for r in spark.read.parquet(path).collect()
    )
    assert got == [
        ("aaa111", d1, d1.date()),
        ("bbb222", d1, d1.date()),
        ("ccc333", d2, d2.date()),
        ("ddd444", d2, d2.date()),
    ]
    # a second full replay appends nothing and reports so
    assert append_facts(batch, path) is False
    assert spark.read.parquet(path).count() == 4


def test_state_store_time_travel(spark, tmp_path):
    """Every retained generation stays readable as a consistent
    snapshot; vacuumed generations are rejected by name."""
    import pytest

    from aircraftutilization_etl_spark.schemas import SOURCE_SCHEMA
    from aircraftutilization_etl_spark.sources.parquet_io import StateStore

    store = StateStore(spark, str(tmp_path / "state"), SOURCE_SCHEMA)
    row = spark.createDataFrame(
        [("aaa111", 100, 50.0, 1.0, 90, 100, "climbing", False)],
        SOURCE_SCHEMA,
    )
    v1 = store.commit(row)
    v2 = store.commit(row.union(row))
    v3 = store.commit(row.union(row).union(row))
    assert store.read_version(v1).count() == 1
    assert store.read_version(v2).count() == 2
    assert store.read().count() == 3  # current = v3
    assert store.read_version(v3).columns == store.read().columns
    store.vacuum(keep=1)
    with pytest.raises(ValueError, match="unknown or vacuumed"):
        store.read_version(v1)


def test_compact_parquet_shrinks_file_count(spark, tmp_path):
    from aircraftutilization_etl_spark.sources.parquet_io import (
        compact_parquet,
    )

    path = str(tmp_path / "many")
    # 40 tiny files
    spark.range(0, 4000).repartition(40).write.parquet(path)
    before = spark.read.parquet(path)
    before_sum = before.agg({"id": "sum"}).first()[0]

    stats = compact_parquet(spark, path, target_file_bytes=10**9)
    assert stats["files_before"] == 40
    assert stats["files_after"] == 1
    after = spark.read.parquet(path)
    assert after.count() == 4000
    assert after.agg({"id": "sum"}).first()[0] == before_sum
    # idempotent: already compact -> no rewrite
    stats2 = compact_parquet(spark, path, target_file_bytes=10**9)
    assert stats2["files_before"] == stats2["files_after"] == 1


def test_compact_parquet_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the data only under
    __precompact; the next invocation must restore it before (or
    instead of) compacting. A crash after publish but before cleanup
    leaves a stale __precompact next to live data; the next invocation
    must drop it so its own stage-aside rename can succeed."""
    import os
    import shutil

    from aircraftutilization_etl_spark.sources.parquet_io import (
        compact_parquet,
    )

    path = str(tmp_path / "facts")
    spark.range(0, 1000).repartition(8).write.parquet(path)

    # case 1: died between renames — nothing at path, data staged aside
    os.rename(path, path + "__precompact")
    stats = compact_parquet(spark, path, target_file_bytes=10**9)
    assert not os.path.exists(path + "__precompact")
    assert spark.read.parquet(path).count() == 1000
    assert stats["files_after"] == 1

    # case 2: died after publish, stale __precompact + stale tmp remain
    shutil.copytree(path, path + "__precompact")
    os.makedirs(path + "__compacting", exist_ok=True)
    stats2 = compact_parquet(spark, path, target_file_bytes=10**9)
    assert not os.path.exists(path + "__precompact")
    assert not os.path.exists(path + "__compacting")
    assert spark.read.parquet(path).count() == 1000
    assert stats2["files_before"] == stats2["files_after"] == 1


class TestEvolvedRead:
    def test_generations_unify_to_target(self, spark, tmp_path):
        from pyspark.sql.types import StructType

        from aircraftutilization_etl_spark.sources.parquet_io import (
            read_parquet_evolved,
        )

        path = str(tmp_path / "sink")
        # generation 1: (id int, v int) — before the column was added
        spark.createDataFrame([(1, 10), (2, 20)], "id int, v int").write.mode(
            "append"
        ).parquet(path)
        # generation 2: adds `tag`; the TARGET widens id/v to bigint
        spark.createDataFrame(
            [(3, 30, "x")], "id int, v int, tag string"
        ).write.mode("append").parquet(path)
        target = StructType.fromDDL("id bigint, v bigint, tag string")
        out = read_parquet_evolved(spark, path, target)
        assert [f.simpleString() for f in out.schema.fields] == [
            "id:bigint", "v:bigint", "tag:string",
        ]
        rows = {r.id: (r.v, r.tag) for r in out.collect()}
        assert rows == {1: (10, None), 2: (20, None), 3: (30, "x")}

    def test_retired_columns_drop_and_missing_path_is_empty(
        self, spark, tmp_path
    ):
        from pyspark.sql.types import StructType

        from aircraftutilization_etl_spark.sources.parquet_io import (
            read_parquet_evolved,
        )

        path = str(tmp_path / "sink2")
        spark.createDataFrame(
            [(1, "junk", 2.5)], "id int, legacy string, v double"
        ).write.parquet(path)
        target = StructType.fromDDL("id bigint, v double")
        out = read_parquet_evolved(spark, path, target)
        assert out.columns == ["id", "v"]
        assert out.collect()[0].asDict() == {"id": 1, "v": 2.5}
        empty = read_parquet_evolved(
            spark, str(tmp_path / "nope"), target
        )
        assert empty.columns == ["id", "v"] and empty.count() == 0
