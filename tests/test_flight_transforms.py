"""Golden DataFrame tests of the flight-session transform cores.

Ports the reference's golden tests (same inputs, same expected frames,
canonically sorted — SURVEY.md §5a):

- merge_states       ← test_transform_ok, src/tests/plugins/scripts/
                       opensky/test_transformers.py:306-368
- transform_active   ← test_transform_active_ok, src/tests/plugins/scripts/
                       complete_flights/test_transform.py:306-342
- transform_complete ← test_transform_complete_ok, ibid:343-392
- project_metadata   ← TestMetadataETLMethods fixture, opensky
                       test_transformers.py:405-433,506-521
"""

import datetime as dt

from pyspark.sql import Row
from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.flight import (
    classify_and_split,
    classify_flights,
    merge_states,
    project_metadata,
    remove_inactive,
    transform_active,
    transform_complete,
)
from aircraftutilization_etl_spark.schemas import (
    ACTIVE_FLIGHTS_COLUMNS,
    METADATA_SCHEMA,
    SOURCE_SCHEMA,
)
from tests.conftest import rows_sorted

NOW = 1712340000  # deterministic injected "now" (SURVEY.md §7 hard part 4)


def make_source(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows], SOURCE_SCHEMA)


def test_merge_states_golden(spark):
    """The EP1 golden scenario (opensky test_transformers.py:306-368).

    Three prior-state aircraft: one idle 25 min (evicted), one seen again
    (65432a), one not seen this batch (1b3456); plus one brand-new feed
    aircraft (12c456).
    """
    active = NOW
    states = spark.createDataFrame(
        [("65432a", active, 210.11, -0.7), ("12c456", active, 18.41, 6.11)],
        "icao24 string, last_contact int, velocity double, vertical_rate double",
    )
    prior = make_source(
        spark,
        [
            dict(
                icao24="a23456", last_contact=0, velocity=137.18, vertical_rate=-1.1,
                takeoff_at=0, flight_last_contact=active - 25 * 60,
                flight_trajectory="descend", is_first_contact=False,
            ),
            dict(
                icao24="65432a", last_contact=active - 15 * 60, velocity=240.52,
                vertical_rate=0.0, takeoff_at=1712338215,
                flight_last_contact=active - 15 * 60,
                flight_trajectory="other", is_first_contact=False,
            ),
            dict(
                icao24="1b3456", last_contact=active - 5 * 60, velocity=18.41,
                vertical_rate=6.11, takeoff_at=1712338205,
                flight_last_contact=active - 5 * 60,
                flight_trajectory="climb", is_first_contact=True,
            ),
        ],
    )

    result = {r["icao24"]: r.asDict() for r in merge_states(states, prior, NOW).collect()}

    assert set(result) == {"65432a", "12c456", "1b3456"}  # a23456 TTL-evicted
    assert result["65432a"] == dict(
        icao24="65432a", last_contact=active, velocity=210.11, vertical_rate=-0.7,
        takeoff_at=1712338215, flight_last_contact=active,
        flight_trajectory="other", is_first_contact=False,
    )
    assert result["12c456"] == dict(
        icao24="12c456", last_contact=active, velocity=18.41, vertical_rate=6.11,
        takeoff_at=0, flight_last_contact=active,
        flight_trajectory=None, is_first_contact=True,
    )
    assert result["1b3456"] == dict(
        icao24="1b3456", last_contact=0, velocity=0.0, vertical_rate=0.0,
        takeoff_at=1712338205, flight_last_contact=active - 5 * 60,
        flight_trajectory="climb", is_first_contact=False,
    )


def test_merge_states_empty_prior(spark):
    """First-ever run: empty typed state, all feed rows become new sessions."""
    states = spark.createDataFrame(
        [("a23456", NOW, 240.52, 6.3)],
        "icao24 string, last_contact int, velocity double, vertical_rate double",
    )
    prior = make_source(spark, [])
    rows = merge_states(states, prior, NOW).collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    assert row["is_first_contact"] is True
    assert row["takeoff_at"] == 0
    assert row["flight_last_contact"] == NOW


def test_remove_inactive_boundary(spark):
    """19-min idle survives, 21-min idle evicted; boundary is strict >."""
    active = spark.createDataFrame(
        [
            ("a", 0, NOW - 19 * 60, "climb", False),
            ("b", 0, NOW - 21 * 60, "other", False),
            ("c", 0, NOW - 20 * 60, "other", False),
        ],
        "icao24 string, takeoff_at int, flight_last_contact int,"
        " flight_trajectory string, is_first_contact boolean",
    )
    kept = {r["icao24"] for r in remove_inactive(active, NOW).collect()}
    assert kept == {"a"}


def test_transform_active_golden(spark):
    """complete_flights test_transform.py:306-342."""
    classified = make_source(
        spark,
        [
            dict(icao24="65432a", last_contact=1712338215, velocity=110.11,
                 vertical_rate=7.49, takeoff_at=1712338215,
                 flight_last_contact=1712338215, flight_trajectory="other",
                 is_first_contact=False),
            dict(icao24="1b3456", last_contact=0, velocity=0.0, vertical_rate=0.0,
                 takeoff_at=1712338205, flight_last_contact=1712338110,
                 flight_trajectory="climb", is_first_contact=False),
            dict(icao24="12c456", last_contact=1712338315, velocity=71.14,
                 vertical_rate=11.38, takeoff_at=0,
                 flight_last_contact=1712338315, flight_trajectory="climb",
                 is_first_contact=True),
        ],
    ).selectExpr(
        "*",
        "CASE icao24 WHEN '12c456' THEN 'takeoff' ELSE 'other' END AS flight_status",
    )

    result = {r["icao24"]: r.asDict() for r in transform_active(classified).collect()}

    assert "flight_status" not in next(iter(result.values()))
    assert result["12c456"]["takeoff_at"] == 1712338315  # C4 stamp
    assert result["65432a"]["takeoff_at"] == 1712338215  # untouched
    assert result["65432a"]["flight_trajectory"] == "climb"  # vr>0
    assert result["1b3456"]["flight_trajectory"] == "other"  # vr==0, was climb
    assert result["12c456"]["flight_trajectory"] == "climb"


def test_transform_complete_golden(spark):
    """complete_flights test_transform.py:343-392.

    Two landing rows: one with a real takeoff (emitted, enriched), one with
    the 0 sentinel (dropped, F2).
    """
    landing = make_source(
        spark,
        [
            dict(icao24="65432a", last_contact=1712338215, velocity=9.11,
                 vertical_rate=0.0, takeoff_at=1712329013,
                 flight_last_contact=1712338215, flight_trajectory="descend",
                 is_first_contact=False),
            dict(icao24="1b3456", last_contact=1712338315, velocity=0.0,
                 vertical_rate=0.0, takeoff_at=0,
                 flight_last_contact=1712338315, flight_trajectory="descend",
                 is_first_contact=False),
        ],
    ).selectExpr("*", "'landing' AS flight_status")
    metadata = spark.createDataFrame(
        [
            ("65432a", "AB-CDE", "Boeing 737", "BOEING", "Test Lease", "Test Air", "2000-02-01"),
            ("12c456", "BC-DEF", "Airbus 320", "AIRBUS", "New Test Lease", "New Test Air", "1990-03-05"),
        ],
        METADATA_SCHEMA,
    )

    rows = transform_complete(landing, metadata).collect()

    assert len(rows) == 1
    row = rows[0].asDict()
    assert row == dict(
        icao24="65432a",
        flight_duration_minutes=154,
        landed_at=dt.datetime(2024, 4, 5, 17, 30, 15),
        registration="AB-CDE",
        model="Boeing 737",
        manufacturer_icao="BOEING",
        owner="Test Lease",
        operator="Test Air",
        built=dt.datetime(2000, 2, 1),
    )


def test_transform_complete_unmatched_metadata_is_null(spark):
    """Left-join miss → nulls across dimension columns (C5 is native)."""
    landing = make_source(
        spark,
        [dict(icao24="zzz999", last_contact=1712338215, velocity=0.0,
              vertical_rate=0.0, takeoff_at=1712329013,
              flight_last_contact=1712338215, flight_trajectory="descend",
              is_first_contact=False)],
    ).selectExpr("*", "'landing' AS flight_status")
    metadata = spark.createDataFrame([], METADATA_SCHEMA)
    row = transform_complete(landing, metadata).first().asDict()
    assert row["registration"] is None and row["built"] is None
    assert row["flight_duration_minutes"] == 154


def test_transform_complete_unparseable_built_is_null(spark):
    """T3 strict parse: malformed built strings → null, never an error —
    Spark 4 ANSI mode would throw from plain to_timestamp (regression
    guard for the try_to_timestamp fix)."""
    landing = make_source(
        spark,
        [dict(icao24="65432a", last_contact=1712338215, velocity=0.0,
              vertical_rate=0.0, takeoff_at=1712329013,
              flight_last_contact=1712338215, flight_trajectory="descend",
              is_first_contact=False)],
    ).selectExpr("*", "'landing' AS flight_status")
    metadata = spark.createDataFrame(
        [("65432a", "AB-CDE", "B737", "BOEING", "o", "op", "never-built")],
        METADATA_SCHEMA,
    )
    row = transform_complete(landing, metadata).first().asDict()
    assert row["built"] is None
    assert row["model"] == "B737"


def test_transform_complete_pruned_dimension_equals_full_join(spark):
    """J2 broadcasts only the landing keys' dimension rows; that must not
    change a single fact row — a duplicated dimension key still fans
    out, a null-key dimension row still never matches, a landing with no
    dimension row (or a null key) still gets nulls."""
    landing = make_source(
        spark,
        [
            dict(icao24=icao, last_contact=1712338215, velocity=0.0,
                 vertical_rate=0.0, takeoff_at=1712329013 + i,
                 flight_last_contact=1712338215, flight_trajectory="descend",
                 is_first_contact=False)
            for i, icao in enumerate(["dup001", "one002", "zzz999", "one002", None])
        ],
    ).selectExpr("*", "'landing' AS flight_status")
    metadata = spark.createDataFrame(
        [
            ("dup001", "D-AAAA", "A320", "AIRBUS", "o1", "op1", "2001-01-01"),
            ("dup001", "D-BBBB", "A321", "AIRBUS", "o2", "op2", "not-a-date"),
            ("one002", "G-CCCC", "B738", "BOEING", "o3", "op3", "2010-05-06"),
            (None, "N-NULL", "C172", "CESSNA", "o4", "op4", "1999-09-09"),
            ("far003", "F-DDDD", "E190", "EMBRAER", "o5", "op5", "2015-07-08"),
        ],
        METADATA_SCHEMA,
    )
    got = transform_complete(landing, metadata)
    facts = transform_complete(landing, spark.createDataFrame([], METADATA_SCHEMA))
    full = (
        facts.select("icao24", "flight_duration_minutes", "landed_at")
        .join(F.broadcast(metadata), on="icao24", how="left")
        .withColumn("built", F.try_to_timestamp(F.col("built"), F.lit("yyyy-MM-dd")))
        .select(*got.columns)
    )
    assert rows_sorted(got) == rows_sorted(full)
    by_key = [r["icao24"] for r in got.collect()]
    assert sorted(by_key, key=str) == sorted(
        ["dup001", "dup001", "one002", "one002", "zzz999", None], key=str
    )


def test_classify_and_split_disjoint(spark):
    """F3 — every row lands on exactly one side of the split."""
    source = make_source(
        spark,
        [
            # landing row (descend + slow + level)
            dict(icao24="land01", last_contact=1712338215, velocity=5.0,
                 vertical_rate=0.0, takeoff_at=1712329013,
                 flight_last_contact=1712338215, flight_trajectory="descend",
                 is_first_contact=False),
            # takeoff row
            dict(icao24="take01", last_contact=1712338215, velocity=80.0,
                 vertical_rate=9.0, takeoff_at=0,
                 flight_last_contact=1712338215, flight_trajectory=None,
                 is_first_contact=True),
            # cruising row
            dict(icao24="crui01", last_contact=1712338215, velocity=240.0,
                 vertical_rate=0.0, takeoff_at=1712329013,
                 flight_last_contact=1712338215, flight_trajectory="climb",
                 is_first_contact=False),
        ],
    )
    metadata = spark.createDataFrame([], METADATA_SCHEMA)
    flights = classify_and_split(source, metadata)
    active_ids = {r["icao24"] for r in flights.active.collect()}
    complete_ids = {r["icao24"] for r in flights.complete.collect()}
    assert active_ids == {"take01", "crui01"}
    assert complete_ids == {"land01"}
    assert active_ids.isdisjoint(complete_ids)


def test_classify_flights_statuses(spark):
    source = make_source(
        spark,
        [
            dict(icao24="t", last_contact=1, velocity=80.0, vertical_rate=9.0,
                 takeoff_at=0, flight_last_contact=1, flight_trajectory=None,
                 is_first_contact=True),
            dict(icao24="l", last_contact=1, velocity=0.0, vertical_rate=0.0,
                 takeoff_at=5, flight_last_contact=1, flight_trajectory="descend",
                 is_first_contact=False),
            dict(icao24="o", last_contact=0, velocity=0.0, vertical_rate=0.0,
                 takeoff_at=5, flight_last_contact=1, flight_trajectory="other",
                 is_first_contact=False),
        ],
    )
    statuses = {r["icao24"]: r["flight_status"] for r in classify_flights(source).collect()}
    assert statuses == {"t": "takeoff", "l": "landing", "o": "other"}


def test_project_metadata_golden(spark):
    """EP3 — 27→7 projection + manufacturericao rename (opensky
    test_transformers.py:405-433 fixture, expected :506-521)."""
    raw = spark.createDataFrame(
        [Row(icao24="a23456", registration="ABCD-E", manufacturericao="BOEING",
             manufacturername="Boeing", model="737 NG", typecode="B737NG",
             serialnumber="A-2345", linenumber="CD567", icaoaircrafttype="L1P",
             operator="Test Air", operatorcallsign="TEST AIR", operatoricao="TAR",
             operatoriata="TA", owner="Test Lease", testreg="T-AR",
             registered="2001-03-02", reguntil="2040-03-02", status="",
             built="2000-10-05", firstflightdate="2001-05-10",
             seatconfiguration="", engines="CFM INTL. CFM56 SERIES",
             modes="false", adsb="true", acars="false", notes="test",
             categoryDescription="Large")]
    )
    result = project_metadata(raw)
    assert result.columns == list(c.name for c in METADATA_SCHEMA.fields)
    assert result.first().asDict() == dict(
        icao24="a23456", registration="ABCD-E", model="737 NG",
        manufacturer_icao="BOEING", owner="Test Lease", operator="Test Air",
        built="2000-10-05",
    )


def test_active_columns_projection(spark):
    """P2 — the 5 carried columns match the reference registry."""
    assert ACTIVE_FLIGHTS_COLUMNS == (
        "icao24", "takeoff_at", "flight_last_contact",
        "flight_trajectory", "is_first_contact",
    )
