"""One-off migration commands — reference ``src/commands`` parity (S7).

The reference ships two cursor-batched Mongo migrations:

- ``metadata_addition.py:90-104``: stream the flights collection, buffer
  5000 docs, left-join the aircraft metadata on icao24 (``:86``),
  NaN→None (``:87``), bulk-insert into the new collection.
- ``built_string_to_dt.py:63-91``: re-parse the ``built`` field from
  '%Y-%m-%d' strings to datetimes, unparseable → None (``:69-75``),
  batch-write.

Engine-native: each migration is one lazy DataFrame plan over the fact
table — batching is per-partition and automatic in the writer, the
5000-doc buffering loop disappears, and NaN→None is a no-op (SQL null).
Both run at any scale: the dimension join broadcasts, the parse is a
column expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import METADATA_SCHEMA
from .sources.parquet_io import read_parquet_or_empty

# Metadata columns grafted onto facts rows (reference metadata_addition
# enriches with the full MetaColumns set minus the join key).
_META_COLS = ("registration", "model", "manufacturer_icao", "owner", "operator", "built")


def add_metadata(facts: DataFrame, metadata: DataFrame) -> DataFrame:
    """Enrich fact rows lacking aircraft metadata (J3: left join on
    icao24; reference metadata_addition.py:86-87).

    Facts that already carry metadata columns get them replaced — the
    reference migration overwrote the document fields unconditionally.
    """
    bare = facts.drop(*[c for c in _META_COLS if c in facts.columns])
    return bare.join(F.broadcast(metadata), on="icao24", how="left")


def built_string_to_dt(facts: DataFrame) -> DataFrame:
    """Parse the ``built`` string to a timestamp, unparseable → null
    (reference built_string_to_dt.py:69-75 try/except → None)."""
    return facts.withColumn(
        # try_to_timestamp: unparseable -> null even under ANSI mode
        "built",
        F.try_to_timestamp(F.col("built").cast("string"), F.lit("yyyy-MM-dd")),
    )


def run_add_metadata_migration(
    spark: SparkSession, facts_path: str, metadata_path: str, out_path: str
) -> int:
    """Read → enrich → append-write (reference upload_to_new_db).

    Returns the migrated row count. Writing to a NEW path then swapping
    mirrors the reference's new-collection strategy and keeps the
    migration idempotent/restartable.
    """
    facts = spark.read.parquet(facts_path)
    metadata = read_parquet_or_empty(spark, metadata_path, METADATA_SCHEMA)
    enriched = add_metadata(facts, metadata)
    enriched.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path).count()


def run_built_string_migration(
    spark: SparkSession, facts_path: str, out_path: str
) -> int:
    facts = spark.read.parquet(facts_path)
    migrated = built_string_to_dt(facts)
    migrated.write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path).count()
