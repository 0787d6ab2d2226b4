"""Flight-session transform cores — pure DataFrame → DataFrame functions.

These reproduce the semantics of the reference's two 5-minute ETL tasks and
the daily dimension refresh (SURVEY.md §3, EP1/EP2/EP3) as lazy Catalyst
plans. The reference executes eagerly in pandas; here each function only
declares the plan — projection pushdown, predicate ordering and join
strategy are Catalyst's job (SURVEY.md §4.1: every manual optimization in
the reference is a Catalyst built-in).

Determinism: the reference computes the inactivity cutoff from
``datetime.now`` inside the transform (opensky/transformers.py:86-91).
Here ``now_epoch`` is an injected parameter, turned into a literal on the
driver, so plans are deterministic and testable (SURVEY.md §7 hard part 4).
"""

from __future__ import annotations

import time
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.flight import (
    flight_duration_minutes_expr,
    flight_status_expr,
    flight_trajectory_expr,
)
from ..schemas import (
    ACTIVE_FLIGHTS_COLUMNS,
    FLIGHT_STATUS_COLUMN,
    STATES_PROJECTED_COLUMNS,
)

INACTIVITY_MAX_MINUTES = 20  # state TTL / session gap (reference :24)


class TransformedFlights(NamedTuple):
    active: DataFrame
    complete: DataFrame


def project_states(states: DataFrame) -> DataFrame:
    """P1 — keep the 4 pipeline columns of the 17-column feed snapshot.

    Reference: opensky/transformers.py:49-56. Under Catalyst this select
    also prunes the feed scan to 4 columns (ReadSchema pushdown).
    """
    return states.select(*STATES_PROJECTED_COLUMNS)


def remove_inactive(active_flights: DataFrame, now_epoch: int) -> DataFrame:
    """F1 — evict sessions idle longer than the 20-minute TTL.

    Reference: opensky/transformers.py:85-97. The cutoff is a literal so
    it pushes down to the state scan.
    """
    cutoff = now_epoch - INACTIVITY_MAX_MINUTES * 60
    return active_flights.filter(F.col("flight_last_contact") > F.lit(cutoff))


def merge_states(
    states: DataFrame, prior_source: DataFrame, now_epoch: int | None = None
) -> DataFrame:
    """EP1 transform — merge the live snapshot into keyed session state.

    Reference ``ActiveFlightsETL._transform``
    (opensky/transformers.py:105-142):

    - P2 project prior state to the 5 carried columns (:68-70)
    - F1 TTL-evict idle sessions (:85-97)
    - J1 full-outer equi-join on icao24 (:111-113) — the string-key join
      form coalesces the key exactly like pandas ``merge(on=...)``
      (SURVEY.md §2.4 trap)
    - C1 fillna(0) on the 5 numeric columns (:114-132) — note this also
      zero-fills genuine feed NaNs in velocity/vertical_rate, a sentinel
      the landing predicate depends on (SURVEY.md §4.4.5)
    - T1 int casts on the 3 epoch columns (:133-139)
    - C3 is_first_contact rotate null→true, true→false (:79-83)
    - C2 flight_last_contact carry-forward where last_contact != 0 (:72-77)

    At reference scale both sides are ~10⁴ rows; at 100 TB scale this is a
    key-partitioned sort-merge join — or lives inside the streaming state
    store (streaming/flight_stream.py), where co-location is managed for us.
    """
    if now_epoch is None:
        now_epoch = round(time.time())
    states4 = project_states(states) if len(states.columns) > 4 else states
    active = prior_source.select(*ACTIVE_FLIGHTS_COLUMNS)
    active = remove_inactive(active, now_epoch)

    source = states4.join(active, on="icao24", how="full_outer")
    source = source.na.fill(
        0,
        subset=[
            "last_contact",
            "velocity",
            "vertical_rate",
            "takeoff_at",
            "flight_last_contact",
        ],
    )
    source = (
        source.withColumn("last_contact", F.col("last_contact").cast("int"))
        .withColumn("takeoff_at", F.col("takeoff_at").cast("int"))
        .withColumn("flight_last_contact", F.col("flight_last_contact").cast("int"))
    )
    source = source.withColumn(
        "is_first_contact",
        F.when(F.col("is_first_contact").isNull(), F.lit(True))
        .when(F.col("is_first_contact") == F.lit(True), F.lit(False))
        .otherwise(F.col("is_first_contact")),
    )
    source = source.withColumn(
        "flight_last_contact",
        F.when(F.col("last_contact") != 0, F.col("last_contact")).otherwise(
            F.col("flight_last_contact")
        ),
    )
    return source.select(
        "icao24",
        "last_contact",
        "velocity",
        "vertical_rate",
        "takeoff_at",
        "flight_last_contact",
        "flight_trajectory",
        "is_first_contact",
    )


def classify_flights(source: DataFrame) -> DataFrame:
    """U1 — stamp the transient flight_status column.

    Reference: complete_flights/transformers.py:159-161 (apply of
    ``_determine_flight_status``) — here one when() chain.
    """
    return source.withColumn(FLIGHT_STATUS_COLUMN, flight_status_expr())


def transform_active(classified_active: DataFrame) -> DataFrame:
    """Non-landing branch — next-cycle state.

    Reference ``_transform_active`` (complete_flights/transformers.py:89-106):
    C4 stamp takeoff_at on takeoff rows, U2 trajectory update (sticky
    descend), P5 drop the transient status column.
    """
    out = classified_active.withColumn(
        "takeoff_at",
        F.when(
            F.col(FLIGHT_STATUS_COLUMN) == "takeoff", F.col("flight_last_contact")
        ).otherwise(F.col("takeoff_at")),
    )
    out = out.withColumn("flight_trajectory", flight_trajectory_expr())
    return out.drop(FLIGHT_STATUS_COLUMN)


def transform_complete(classified_complete: DataFrame, metadata: DataFrame) -> DataFrame:
    """Landing branch — completed-flight facts for the sink.

    Reference ``_transform_complete`` (complete_flights/transformers.py:
    123-153): F2 keep rows with an observed takeoff, P7 3-column
    projection, U3 duration, T2 epoch→UTC timestamp, P6 drop inputs, then
    J2/T3 (:func:`enrich_completed`) against the dimension rows of this
    cycle's landing keys only. The aircraft table is ~500k rows
    (SURVEY.md §4.3) against a few hundred landings per cycle, so it is
    first semi-joined with the broadcast landing keys and only that
    remainder is broadcast; an equi-join never matches a null key and a
    semi-join keeps each dimension row once, so the enriched rows equal
    the unpruned join's, duplicate and absent keys included.
    """
    complete = classified_complete.filter(F.col("takeoff_at") != 0).select(
        "icao24", "takeoff_at", "last_contact"
    )
    complete = complete.withColumn(
        "flight_duration_minutes", flight_duration_minutes_expr()
    )
    complete = complete.withColumn(
        "landed_at", F.timestamp_seconds(F.col("last_contact"))
    )
    complete = complete.drop("takeoff_at", "last_contact")
    landed = metadata.join(
        F.broadcast(complete.select("icao24")), on="icao24", how="left_semi"
    )
    return enrich_completed(complete, landed)


def enrich_completed(completed: DataFrame, metadata: DataFrame) -> DataFrame:
    """J2/T3 — completed flights → facts, shared by the batch cycle and
    the stream.

    J2 left-joins the aircraft dimension (complete_flights/
    transformers.py:108-121) as a broadcast-hash join, then T3 parses
    ``built`` (yyyy-MM-dd → null on failure, matching the strict-variant
    command script src/commands/built_string_to_dt.py:69-75). The batch
    cycle passes the dimension pruned to its landing keys; the stream
    passes the whole table, because Spark rejects a left-semi join whose
    right side is streaming.
    """
    out = completed.join(F.broadcast(metadata), on="icao24", how="left")
    # C5 (NaN→None) is a no-op in Spark: nulls are native (SURVEY.md §2.5).
    out = out.withColumn(
        # try_to_timestamp: invalid strings -> null under ANSI mode too,
        # matching the reference's try/except -> None
        "built", F.try_to_timestamp(F.col("built"), F.lit("yyyy-MM-dd"))
    )
    return out.select(
        "icao24",
        "flight_duration_minutes",
        "landed_at",
        "registration",
        "model",
        "manufacturer_icao",
        "owner",
        "operator",
        "built",
    )


def classify_and_split(source: DataFrame, metadata: DataFrame) -> TransformedFlights:
    """EP2 transform — one input, two outputs (updated state + facts).

    Reference ``CompleteFlightsETL._transform``
    (complete_flights/transformers.py:155-171): F3 disjoint split on
    flight_status; each row lands on exactly one side.
    """
    classified = classify_flights(source)
    active = classified.filter(F.col(FLIGHT_STATUS_COLUMN) != "landing")
    complete = classified.filter(F.col(FLIGHT_STATUS_COLUMN) == "landing")
    return TransformedFlights(
        active=transform_active(active),
        complete=transform_complete(complete, metadata),
    )


def project_metadata(raw_metadata: DataFrame) -> DataFrame:
    """EP3 transform — aircraft dimension refresh.

    Reference ``MetadataETL._transform`` (opensky/transformers.py:171-189):
    P3 project 7 of ~27 inferred CSV columns, P4 rename
    manufacturericao → manufacturer_icao.
    """
    return raw_metadata.select(
        "icao24",
        "registration",
        "model",
        F.col("manufacturericao").alias("manufacturer_icao"),
        "owner",
        "operator",
        "built",
    )
