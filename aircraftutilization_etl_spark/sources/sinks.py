"""Fact sinks — engine-native replacement for the Mongo time-series sink.

Reference S6 (src/plugins/scripts/complete_flights/db.py:42-79): a Mongo
time-series collection with timeField=landed_at, metaField=icao24, hours
granularity and a 365-day TTL, appended via insert_many; an empty batch is
logged and skipped.

Engine-native equivalent (SURVEY.md §7 step 4): append-mode parquet
partitioned by the landing date — date partitioning reproduces the
hours/day time-bucketing for partition-pruned time-range scans, and a
retention job reproduces the TTL by dropping expired partitions (cheap
metadata-level deletes, no row rewrite).
"""

from __future__ import annotations

import datetime as dt
import logging

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.distribute import MODEL_CACHE, cache, cache_scope
from .parquet_io import hadoop_fs

logger = logging.getLogger(__name__)

RETENTION_DAYS = 365  # reference db.py:43,52 (expireAfterSeconds = 365 d)
PARTITION_COLUMN = "landed_date"
TIME_FIELD = "landed_at"  # sink key with icao24: the reference timeField
_GUARD_SCHEMA = f"icao24 string, {TIME_FIELD} timestamp, {PARTITION_COLUMN} date"


def append_facts(
    df: DataFrame, path: str, batch_id: str | None = None
) -> bool:
    """Exactly-once append of completed-flight facts, partitioned by
    landing date.

    Returns False (and logs) on an empty batch instead of writing —
    reference db.py:63-66.

    One pass over the batch: the date-stamped batch is persisted for the
    duration of the call, so its lineage (for the pipeline: the state
    scan, classify and the dimension join) runs once, in the global
    aggregate that yields both the row count and the touched landing
    dates; the write reads the cached rows. Being a full pass, that
    aggregate also completes any Observation riding on ``df`` with the
    batch's true row count.

    Exactly-once: a crash between the fact append and the state-manifest
    flip re-runs the batch against the old state generation, re-deriving
    the same completed flights. The write anti-joins the batch on the
    sink key (icao24, ``landed_at``) against the rows already in its own
    target date partitions, so replays append nothing. That guard scan
    runs once, inside the write, over the touched date directories only
    (a landing batch touches ~today) and the two key columns —
    O(touched partitions), not O(sink). An Observation on the
    written rows tells a fully replayed batch (0 rows appended; a
    partitioned append of no rows writes no file) from a real append.
    ``batch_id`` (the source state generation) is stamped as a lineage
    column so operators can attribute rows to the run that produced them.

    Atomicity note: parquet append commits per task-file (in-flight
    ``_temporary`` output is invisible to readers), so a crash exposes
    a row-complete subset of the batch — which the row-granular guard
    tops up exactly on replay, including batches straddling multiple
    date partitions (tests/test_io.py::
    test_append_facts_replay_straddling_partial_write). The residual
    window is CONCURRENT identical appends racing past the guard scan
    together; the sink assumes the reference's single-writer
    orchestration cadence (orchestration.py serializes the DAG).
    """
    out = df.withColumn(PARTITION_COLUMN, F.to_date(F.col(TIME_FIELD)))
    if batch_id is not None:
        out = out.withColumn("batch_id", F.lit(batch_id))
    with cache_scope():
        cache(out, MODEL_CACHE)
        # a global aggregate, not distinct(): on empty input AQE would
        # prune distinct's shuffle and drop an Observation riding on ``df``
        n_rows, touched = out.agg(
            F.count(F.lit(1)), F.collect_set(PARTITION_COLUMN)
        ).first()
        if n_rows == 0:
            logger.warning("Empty complete flights dataframe")
            return False
        fresh = out
        existing = _landed_keys(df.sparkSession, path, touched)
        if existing is not None:
            fresh = out.join(existing, on=["icao24", TIME_FIELD], how="left_anti")
        written = Observation("appended_facts")
        fresh = fresh.observe(written, F.count(F.lit(1)).alias("n"))
        fresh.write.mode("append").partitionBy(PARTITION_COLUMN).parquet(path)
        if written.get["n"] == 0:
            logger.warning("All facts already present (replayed batch)")
            return False
        return True


def _landed_keys(
    spark: SparkSession, path: str, dates: list[dt.date]
) -> DataFrame | None:
    """The sink keys (icao24, ``landed_at``) already stored under the
    given landing dates; None when none of their directories exists.

    Reads only those directories, with ``basePath`` keeping the date a
    partition column and an explicit schema, so building the frame
    lists no other partition and opens no footer: no Spark job runs
    before the write that consumes it.
    """
    root = path.rstrip("/")
    dirs = []
    for d in dates:
        part = f"{root}/{PARTITION_COLUMN}={d.isoformat()}"
        fs, jvm_path = hadoop_fs(spark, part)
        if fs.exists(jvm_path):
            dirs.append(part)
    if not dirs:
        return None
    return (
        spark.read.schema(_GUARD_SCHEMA)
        .option("basePath", root)
        .parquet(*dirs)
        .select("icao24", TIME_FIELD)
    )


def retention_purge(
    spark: SparkSession,
    path: str,
    retention_days: int = RETENTION_DAYS,
    now: dt.datetime | None = None,
) -> list[str]:
    """TTL job — drop fact partitions older than the retention window.

    Partition-level deletes replicate Mongo's expireAfterSeconds without
    touching surviving data. Returns the dropped partition names.
    """
    now = now or dt.datetime.now(dt.timezone.utc)
    cutoff = (now - dt.timedelta(days=retention_days)).date()
    fs, jvm_path = hadoop_fs(spark, path)
    if not fs.exists(jvm_path):
        return []
    dropped = []
    for status in fs.listStatus(jvm_path):
        name = status.getPath().getName()
        if not name.startswith(f"{PARTITION_COLUMN}="):
            continue
        value = name.split("=", 1)[1]
        try:
            part_date = dt.date.fromisoformat(value)
        except ValueError:
            continue
        if part_date < cutoff:
            fs.delete(status.getPath(), True)
            dropped.append(name)
    return dropped
