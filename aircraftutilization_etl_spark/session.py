"""Tuned SparkSession builder — the engine's recommended entry point.

One place for the scale-relevant defaults so pipelines, tests and
benchmarks agree. Everything is overridable via ``extra_conf``; at
cluster scale the same settings apply, with ``shuffle_partitions``
raised to ~2-3× total cores and S3A/credentials supplied by the
platform's Hadoop configuration (reference S8 — deliberately not engine
code).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .operators.distribute import SHUFFLE_PARTITIONS

RECOMMENDED = {
    # AQE: runtime join demotion, partition coalescing, skew-join splits
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # deterministic timestamps across engines (oracle parity)
    "spark.sql.session.timeZone": "UTC",
    # Arrow lanes for Pandas UDF / mapInPandas / toPandas
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bound per-batch memory for binary-payload kernels (multimodal)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # ~128 MB scan splits: enough parallelism without tiny-task overhead
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # TIMESTAMP(NANOS) parquet columns (the events table) read as long;
    # the catalog converts to µs TimestampType explicitly
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Idempotently apply the runtime-settable RECOMMENDED confs to a
    session the engine did not build (e.g. a harness-provided one).

    Called once at the catalog's API boundary so no individual query
    carries a hidden conf side effect; sessions built by
    ``build_session`` already have everything and skip the sets.
    """
    for key in ("spark.sql.legacy.parquet.nanosAsLong",):
        if spark.conf.get(key, None) != RECOMMENDED[key]:
            spark.conf.set(key, RECOMMENDED[key])


# For long-running stateful streams: RocksDB keeps per-key session state
# off-heap and on local disk (the HDFS-backed default holds the whole map
# in executor memory — fine for tests, not for millions of keys), and
# changelog checkpointing ships per-batch deltas instead of full
# snapshots.
STREAMING_RECOMMENDED = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def build_session(
    app_name: str = "aircraftutilization-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a session with the engine's recommended settings.

    ``master=None`` defers to the environment (spark-submit / cluster
    manager); local callers pass e.g. ``local[32]`` and a matching
    ``shuffle_partitions``. ``streaming=True`` adds the RocksDB state
    store for long-running stateful pipelines.
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = dict(RECOMMENDED)
    if streaming:
        conf.update(STREAMING_RECOMMENDED)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if shuffle_partitions is not None:
        builder = builder.config(SHUFFLE_PARTITIONS, str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
