"""Explicit StructType registry + schema guards.

The reference declares schemas out-of-band as NamedTuple column registries
(src/plugins/common/constants.py:13-39, src/plugins/scripts/opensky/
constants.py:5-22, src/plugins/scripts/complete_flights/constants.py:12-21)
with partial runtime enforcement. Here every table gets an explicit
StructType; engine reads never infer.

Type mapping (SURVEY.md §1.2): epoch-seconds keep IntegerType (the
reference casts to nullable Int32, opensky/transformers.py:133-139);
measures are DoubleType with SQL NULL replacing pandas NaN; the tri-state
``is_first_contact`` is a nullable BooleanType.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .errors import InvalidSource

# Live-feed snapshot: the 17 columns of the OpenSky /api/states/all JSON
# array (reference: src/plugins/scripts/opensky/constants.py:5-22).
STATES_SCHEMA = StructType(
    [
        StructField("icao24", StringType()),
        StructField("callsign", StringType()),
        StructField("origin_country", StringType()),
        StructField("time_position", IntegerType()),
        StructField("last_contact", IntegerType()),
        StructField("longitude", DoubleType()),
        StructField("latitude", DoubleType()),
        StructField("baro_altitude", DoubleType()),
        StructField("on_ground", BooleanType()),
        StructField("velocity", DoubleType()),
        StructField("true_track", DoubleType()),
        StructField("vertical_rate", DoubleType()),
        StructField("sensors", StringType()),
        StructField("geo_altitude", DoubleType()),
        StructField("squawk", StringType()),
        StructField("spi", BooleanType()),
        StructField("position_source", IntegerType()),
    ]
)

# The 4-column projection the pipeline keeps (reference P1:
# src/plugins/scripts/opensky/transformers.py:49-56).
STATES_PROJECTED_COLUMNS = ("icao24", "last_contact", "velocity", "vertical_rate")

# Keyed flight-session state, one row per icao24 (reference SourceColumns:
# src/plugins/common/constants.py:13-21).
SOURCE_SCHEMA = StructType(
    [
        StructField("icao24", StringType()),
        StructField("last_contact", IntegerType()),
        StructField("velocity", DoubleType()),
        StructField("vertical_rate", DoubleType()),
        StructField("takeoff_at", IntegerType()),
        StructField("flight_last_contact", IntegerType()),
        StructField("flight_trajectory", StringType()),
        StructField("is_first_contact", BooleanType()),
    ]
)

# The 5-column slice of state carried across batches (reference
# ActiveFlightsColumns: src/plugins/common/constants.py:34-39).
ACTIVE_FLIGHTS_COLUMNS = (
    "icao24",
    "takeoff_at",
    "flight_last_contact",
    "flight_trajectory",
    "is_first_contact",
)

# Aircraft dimension, post-projection (reference MetaColumns:
# src/plugins/common/constants.py:24-31 with manufacturericao renamed,
# opensky/transformers.py:186-188). ``built`` stays a yyyy-MM-dd string in
# the dimension; it is parsed to timestamp only on the sink path (T3).
METADATA_SCHEMA = StructType(
    [
        StructField("icao24", StringType()),
        StructField("registration", StringType()),
        StructField("model", StringType()),
        StructField("manufacturer_icao", StringType()),
        StructField("owner", StringType()),
        StructField("operator", StringType()),
        StructField("built", StringType()),
    ]
)

# Completed-flight facts, the sink row shape (reference TypedDict:
# src/plugins/scripts/complete_flights/db.py:17-27).
COMPLETE_FLIGHTS_SCHEMA = StructType(
    [
        StructField("icao24", StringType()),
        StructField("flight_duration_minutes", IntegerType()),
        StructField("landed_at", TimestampType()),
        StructField("registration", StringType()),
        StructField("model", StringType()),
        StructField("manufacturer_icao", StringType()),
        StructField("owner", StringType()),
        StructField("operator", StringType()),
        StructField("built", TimestampType()),
    ]
)

FLIGHT_STATUS_COLUMN = "flight_status"


def empty_df(spark: SparkSession, schema: StructType) -> DataFrame:
    """Typed empty frame — the engine's missing-input value.

    Reference: a missing S3 key yields a typed empty DataFrame instead of
    an error (src/plugins/common/s3.py:98-101,
    opensky/transformers.py:62-63).
    """
    return spark.createDataFrame([], schema)


def require_columns(df: DataFrame, required) -> DataFrame:
    """Raise InvalidSource unless ``df`` has every column in ``required``.

    Reference E2: src/plugins/scripts/opensky/transformers.py:64-65.
    """
    missing = [c for c in required if c not in df.columns]
    if missing:
        raise InvalidSource(f"source lacks required columns: {missing}")
    return df
