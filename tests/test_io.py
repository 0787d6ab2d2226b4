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


def test_append_facts_evaluates_batch_once(spark, tmp_path):
    """The batch's lineage runs once per append — the aggregate and the
    guarded write share one cached evaluation — and the cache is
    released afterwards, on the replay path too."""
    from pyspark.sql import functions as F

    from aircraftutilization_etl_spark.schemas import COMPLETE_FLIGHTS_SCHEMA

    path = tmp_path / "facts"
    day = dt.datetime(2026, 8, 1, 12)
    seed = spark.createDataFrame(
        [("zzz000", 5, day, None, None, None, None, None, None)],
        COMPLETE_FLIGHTS_SCHEMA,
    )
    assert append_facts(seed, str(path)) is True
    spark.catalog.clearCache()  # other tests' caches are not this test's
    cache = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001

    n = 40
    calls = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(seconds):
        calls.add(1)
        return seconds

    batch = spark.createDataFrame(
        [
            (f"a{i:05d}", i, day + dt.timedelta(minutes=i), None, None, None, None, None, None)
            for i in range(n)
        ],
        COMPLETE_FLIGHTS_SCHEMA,
    ).withColumn(  # the sink key: every action on the batch needs it
        "landed_at", F.timestamp_seconds(counted(F.unix_seconds("landed_at")))
    )
    assert append_facts(batch, str(path)) is True
    assert calls.value == n
    assert cache.isEmpty()

    files = sorted(path.rglob("*.parquet"))
    assert append_facts(batch, str(path)) is False  # replayed batch
    assert sorted(path.rglob("*.parquet")) == files
    assert cache.isEmpty()
    assert spark.read.parquet(str(path)).count() == n + 1


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



def test_append_facts_guard_reads_only_touched_partitions(spark, tmp_path):
    """The replay guard is O(touched partitions): over a 40-date sink,
    building the guard frame for one landing date runs no Spark job (no
    parallel partition-discovery listing, no schema-inference footer
    read) and its scan covers only that date's directory. A replay of
    that date still appends nothing."""
    from aircraftutilization_etl_spark.schemas import COMPLETE_FLIGHTS_SCHEMA
    from aircraftutilization_etl_spark.sources.sinks import _landed_keys

    path = str(tmp_path / "facts")
    first = dt.datetime(2026, 6, 1, 12)
    history = spark.createDataFrame(
        [
            (f"a{i:05d}", 10, first + dt.timedelta(days=i), None, None, None, None, None, None)
            for i in range(40)
        ],
        COMPLETE_FLIGHTS_SCHEMA,
    )
    assert append_facts(history, path) is True
    day = (first + dt.timedelta(days=39)).date()

    sc = spark.sparkContext
    group = "sink-guard-build"
    sc.setJobGroup(group, "build the replay guard frame")
    try:
        keys = _landed_keys(spark, path, [day])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    files = keys.inputFiles()
    assert files
    assert all(f"/landed_date={day.isoformat()}/" in f for f in files), files
    assert _landed_keys(spark, path, [dt.date(2030, 1, 1)]) is None

    parquet = sorted(pathlib.Path(path).rglob("*.parquet"))
    replay = history.filter(history.landed_at >= dt.datetime.combine(day, dt.time()))
    assert append_facts(replay, path) is False
    assert sorted(pathlib.Path(path).rglob("*.parquet")) == parquet
