"""Fact sinks — engine-native replacement for the Mongo time-series sink.

Reference S6 (src/plugins/scripts/complete_flights/db.py:42-79): a Mongo
time-series collection with timeField=landed_at, metaField=icao24, hours
granularity and a 365-day TTL, appended via insert_many; an empty batch is
logged and skipped.

Engine-native equivalent (SURVEY.md §7 step 4): append-mode parquet
partitioned by the landing date — date partitioning reproduces the
hours/day time-bucketing for partition-pruned time-range scans, and a
retention job reproduces the TTL by dropping expired partitions (cheap
metadata-level deletes, no row rewrite). The mongo-spark connector remains
a drop-in alternative (`format("mongodb")`) where operational parity with
the reference deployment is required; it is not exercised here because the
connector jar is not part of the public test environment.
"""

from __future__ import annotations

import datetime as dt
import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .parquet_io import hadoop_fs

logger = logging.getLogger(__name__)

RETENTION_DAYS = 365  # reference db.py:43,52 (expireAfterSeconds = 365 d)
PARTITION_COLUMN = "landed_date"
TIME_FIELD = "landed_at"  # sink key with icao24: the reference timeField


def append_facts(
    df: DataFrame, path: str, batch_id: str | None = None
) -> bool:
    """Exactly-once append of completed-flight facts, partitioned by
    landing date.

    Returns False (and logs) on an empty batch instead of writing —
    reference db.py:63-66. Emptiness falls out of the touched landing
    dates the replay guard needs anyway: one global aggregate, no
    separate isEmpty() job. Being a full pass, it also completes any
    Observation riding on ``df`` with the batch's true row count.

    Exactly-once: a crash between the fact append and the state-manifest
    flip re-runs the batch against the old state generation, re-deriving
    the same completed flights. Before writing, the batch is anti-joined
    on the sink key (icao24, ``landed_at``) against the rows already in
    its own target date partitions, so replays append nothing. The guard
    scan is partition-pruned to the touched dates (a landing batch
    touches ~today) and column-pruned to the two key columns — O(recent
    partitions), not O(sink). ``batch_id`` (the source state generation)
    is stamped as a lineage column so operators can attribute rows to
    the run that produced them.

    Atomicity note: parquet append commits per task-file (in-flight
    ``_temporary`` output is invisible to readers), so a crash exposes
    a row-complete subset of the batch — which the row-granular guard
    tops up exactly on replay, including batches straddling multiple
    date partitions (tests/test_io.py::
    test_append_facts_replay_straddling_partial_write). The residual
    window is CONCURRENT identical appends racing past the pre-write
    scan together; the sink assumes the reference's single-writer
    orchestration cadence (orchestration.py serializes the DAG).
    """
    out = df.withColumn(PARTITION_COLUMN, F.to_date(F.col(TIME_FIELD)))
    # a global aggregate, not distinct(): on empty input AQE would prune
    # distinct's shuffle and drop an Observation riding on ``df``
    n_rows, touched = out.agg(
        F.count(F.lit(1)), F.collect_set(PARTITION_COLUMN)
    ).first()
    if n_rows == 0:
        logger.warning("Empty complete flights dataframe")
        return False
    if batch_id is not None:
        out = out.withColumn("batch_id", F.lit(batch_id))
    fs, jvm_path = hadoop_fs(df.sparkSession, path)
    if fs.exists(jvm_path):
        existing = (
            df.sparkSession.read.parquet(path)
            .filter(F.col(PARTITION_COLUMN).isin(touched))
            .select("icao24", TIME_FIELD)
        )
        out = out.join(existing, on=["icao24", TIME_FIELD], how="left_anti")
        if out.isEmpty():
            logger.warning("All facts already present (replayed batch)")
            return False
    out.write.mode("append").partitionBy(PARTITION_COLUMN).parquet(path)
    return True


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
