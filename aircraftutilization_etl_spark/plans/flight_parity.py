"""Flight-kernel parity queries — the reference's decision kernels (U1-U3,
C2-C4) exercised on the synthetic events table with independent SQL oracles.

The pytest golden tests (tests/test_flight_transforms.py) prove parity
against the reference's own fixtures; these queries additionally prove the
when()-chain kernels against a DuckDB CASE-WHEN oracle at every scale
factor, through the driver's hash gate.

The mapping from events to a source-like frame is deterministic:
icao24 := user_id, last_contact := epoch-seconds of ts (0 for 'view'
events — the not-seen sentinel), velocity := value, vertical_rate :=
value − 100 (mixed signs), flight_trajectory from event_type, and
is_first_contact := event_type = 'signup'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.flight import (
    flight_duration_minutes_expr,
    flight_status_expr,
    flight_trajectory_expr,
)
from ..operators.distribute import shuffle_width
from .catalog import query, table

_SOURCE_LIKE_SQL = """
    SELECT event_id,
           CAST(user_id AS VARCHAR) AS icao24,
           CASE WHEN event_type = 'view' THEN 0
                ELSE CAST(FLOOR(epoch_us(ts) / 1000000.0) AS BIGINT)
                END AS last_contact,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END AS velocity,
           CASE WHEN event_type = 'signup' THEN NULL
                ELSE ROUND(value - 100, 2) + 0.0 END AS vertical_rate,
           CASE WHEN event_type = 'click' THEN 'descend'
                WHEN event_type = 'purchase' THEN 'climb'
                ELSE 'other' END AS flight_trajectory,
           event_type = 'signup' AS is_first_contact
    FROM events
"""


def _source_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.col("user_id").cast("string").alias("icao24"),
        F.when(F.col("event_type") == "view", F.lit(0))
        .otherwise(
            # FLOOR of the double quotient on BOTH sides: `div` truncates
            # toward zero while DuckDB `//` floors, which diverges for
            # pre-1970 timestamps (ADVICE r5). Exact-integer micros make
            # the double division deterministic, and FLOOR-of-identical-
            # double is engine-free.
            F.floor(F.expr("unix_micros(ts)") / F.lit(1000000.0)).cast(
                "long"
            )
        )
        .alias("last_contact"),
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ).alias("velocity"),
        F.when(F.col("event_type") == "signup", F.lit(None))
        .otherwise(F.round(F.col("value") - 100, 2) + 0.0)
        .alias("vertical_rate"),
        F.when(F.col("event_type") == "click", "descend")
        .when(F.col("event_type") == "purchase", "climb")
        .otherwise("other")
        .alias("flight_trajectory"),
        (F.col("event_type") == "signup").alias("is_first_contact"),
    )


@query(
    "q_flight_status_kernel",
    f"""
    WITH source_like AS ({_SOURCE_LIKE_SQL})
    SELECT event_id, icao24,
           CASE WHEN is_first_contact = TRUE AND vertical_rate > 0 THEN 'takeoff'
                WHEN last_contact <> 0
                     AND (vertical_rate = 0 OR vertical_rate IS NULL)
                     AND ((flight_trajectory = 'descend' AND velocity < 10)
                          OR velocity = 0 OR velocity IS NULL)
                     THEN 'landing'
                ELSE 'other' END AS flight_status,
           CASE WHEN vertical_rate > 0 THEN 'climb'
                WHEN vertical_rate < 0 OR flight_trajectory = 'descend'
                     THEN 'descend'
                ELSE 'other' END AS next_trajectory
    FROM source_like
    ORDER BY event_id
    """,
)
def q_flight_status_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 + U2 kernels (takeoff/landing/other, sticky-descend trajectory)
    over 10⁵+ synthetic rows, hash-checked against a CASE-WHEN oracle.

    Reference: _determine_flight_status / _determine_flight_trajectory,
    complete_flights/transformers.py:37-81 — here zero Python, one
    codegen stage.
    """
    src = _source_like(spark, sf_dir)
    return src.select(
        "event_id",
        "icao24",
        flight_status_expr().alias("flight_status"),
        flight_trajectory_expr().alias("next_trajectory"),
    ).orderBy("event_id")


@query(
    "q_flight_session_rollup",
    f"""
    WITH source_like AS ({_SOURCE_LIKE_SQL}),
    takeoffs AS (
        SELECT icao24,
               MIN(last_contact) AS takeoff_at,
               MAX(last_contact) AS last_contact
        FROM source_like WHERE last_contact <> 0
        GROUP BY icao24
    )
    SELECT icao24, takeoff_at, last_contact,
           CAST(CEIL((last_contact - takeoff_at) / 60.0) AS INT)
               AS flight_duration_minutes,
           CAST(to_timestamp(last_contact) AS TIMESTAMP) AS landed_at
    FROM takeoffs
    ORDER BY icao24
    """,
)
def q_flight_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3 duration + T2 epoch→timestamp kernels on per-key session spans.

    Reference: get_flight_duration_minutes + landed_at derivation,
    complete_flights/transformers.py:136-146.
    """
    src = _source_like(spark, sf_dir).filter(F.col("last_contact") != 0)
    spans = src.groupBy("icao24").agg(
        F.min("last_contact").alias("takeoff_at"),
        F.max("last_contact").alias("last_contact"),
    )
    return spans.select(
        "icao24",
        "takeoff_at",
        "last_contact",
        flight_duration_minutes_expr().alias("flight_duration_minutes"),
        F.timestamp_seconds("last_contact").alias("landed_at"),
    ).orderBy("icao24")


# ---------------------------------------------------------------------------
# Streaming session-fold exposure (r5, VERDICT r4 #8): the fold_events
# state machine that BOTH streaming kernels (processing-time and
# event-time applyInPandasWithState) run per key, replayed in batch over
# a deterministic flight-dynamics encoding of the events table and
# hash-checked against a recursive-CTE oracle that replays every
# transition (merge C1-C3 → classify U1 with prior trajectory → landing
# emit F2 → takeoff stamp C4 → trajectory update U2).
# ---------------------------------------------------------------------------

# event types drive the state machine with exact constants (no float
# traps): signup/view climb (vr>0 → session-first events stamp takeoff),
# click descends (sticky), purchase is a slow level packet (lands after
# a descend: vel 5 < 10), error is a stopped packet (lands via vel=0).
# The synthetic feed-cadence clock (see the plan docstring) replays the
# Spark side's window arithmetic verbatim: 5-minute steps inside an
# 8-packet episode, a 25-minute (>= TTL) synthetic silence between
# episodes.
_DYNAMICS_SQL = """
    SELECT icao24, event_id,
           1712338215 + SUM(step) OVER (PARTITION BY icao24
                                        ORDER BY rn
                                        ROWS UNBOUNDED PRECEDING) AS lc,
           vel, vr
    FROM (
        SELECT icao24, event_id, rn,
               CASE WHEN rn = 1 THEN 0
                    WHEN (rn - 1) % 8 = 0 THEN 1500
                    ELSE 300 END AS step,
               vel, vr
        FROM (
            SELECT CAST(user_id AS VARCHAR) AS icao24,
                   event_id,
                   ROW_NUMBER()
                       OVER (PARTITION BY user_id
                             ORDER BY CAST(FLOOR(epoch_us(ts) / 1000000.0)
                                           AS BIGINT),
                                      event_id) AS rn,
                   CASE event_type WHEN 'purchase' THEN 5.0
                                   WHEN 'error' THEN 0.0
                                   ELSE 80.0 END AS vel,
                   CASE event_type WHEN 'signup' THEN 9.0
                                   WHEN 'view' THEN 1.0
                                   WHEN 'click' THEN -5.0
                                   ELSE 0.0 END AS vr
            FROM events
            WHERE user_id % 5 = 0
        )
    )
"""

# transition expressions over (f = prior fold state, s = next event) —
# shared strings so the branches can never drift apart within the oracle.
# F1 in event time (r6): a session whose next timestamped packet arrives
# >= 20 event-minutes after its flight_last_contact is evicted BEFORE
# the packet folds, exactly like fold_events' gap rule / the batch
# pipeline's remove_inactive — so _SESS0 (the session the packet sees)
# is "exists AND not out-gapped".
_TTL_SECONDS = 20 * 60
_SESS0 = f"(f.sess AND NOT (s.lc <> 0 AND s.lc - f.flc >= {_TTL_SECONDS}))"
_TRAJ0 = f"CASE WHEN {_SESS0} THEN f.traj ELSE 'other' END"
_TAKEOFF0 = f"CASE WHEN {_SESS0} THEN f.takeoff_at ELSE 0 END"
_FLC0 = f"CASE WHEN {_SESS0} THEN f.flc ELSE 0 END"
_FLC1 = f"CASE WHEN s.lc <> 0 THEN s.lc ELSE {_FLC0} END"
_IS_TAKEOFF = f"(NOT {_SESS0} AND s.vr > 0)"
_IS_LANDING = (
    f"(s.lc <> 0 AND s.vr = 0 AND (({_TRAJ0} = 'descend' AND s.vel < 10)"
    " OR s.vel = 0))"
)

_FOLD_SQL = f"""
    WITH RECURSIVE src AS (
        SELECT icao24, lc, vel, vr,
               ROW_NUMBER() OVER (PARTITION BY icao24
                                  ORDER BY lc, event_id) AS rn
        FROM ({_DYNAMICS_SQL})
    ),
    fold AS (
        SELECT icao24, 0 AS rn, 0 AS takeoff_at, 0 AS flc,
               'other' AS traj, FALSE AS sess,
               CAST(NULL AS BIGINT) AS emit_takeoff,
               CAST(NULL AS BIGINT) AS emit_landed
        FROM (SELECT DISTINCT icao24 FROM src)
        UNION ALL
        SELECT f.icao24, f.rn + 1,
               CASE WHEN {_IS_LANDING} THEN 0
                    WHEN {_IS_TAKEOFF} THEN {_FLC1}
                    ELSE {_TAKEOFF0} END,
               CASE WHEN {_IS_LANDING} THEN 0 ELSE {_FLC1} END,
               CASE WHEN {_IS_LANDING} THEN 'other'
                    WHEN s.vr > 0 THEN 'climb'
                    WHEN s.vr < 0 OR {_TRAJ0} = 'descend' THEN 'descend'
                    ELSE 'other' END,
               NOT {_IS_LANDING},
               CASE WHEN {_IS_LANDING} AND {_TAKEOFF0} <> 0
                    THEN {_TAKEOFF0} END,
               CASE WHEN {_IS_LANDING} AND {_TAKEOFF0} <> 0
                    THEN s.lc END
        FROM fold f JOIN src s ON s.icao24 = f.icao24 AND s.rn = f.rn + 1
    )
    SELECT icao24,
           CAST(CEIL((emit_landed - emit_takeoff) / 60.0) AS INT)
               AS flight_duration_minutes,
           CAST(to_timestamp(emit_landed) AS TIMESTAMP) AS landed_at
    FROM fold
    WHERE emit_takeoff IS NOT NULL
    ORDER BY icao24, landed_at
"""


@query("q_stream_flight_sessions", _FOLD_SQL)
def q_stream_flight_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming session state machine, driver-checked: fold_events
    — the exact kernel both applyInPandasWithState wrappers run
    (streaming/flight_stream.py:96-151, event-time variant :250-339) —
    replayed per key in event-time order over a deterministic
    flight-dynamics encoding of the events table, emitting completed
    flights. The DuckDB oracle is a recursive CTE that replays EVERY
    merge/classify/emit transition, so a hash match certifies the whole
    state machine, not just its end state.

    Multiple flights per aircraft arise naturally (each landing resets
    the session and the next climb-first packet stamps a new takeoff),
    exercising C2 carry-forward, U1's prior-trajectory classification,
    U2 sticky descend, C4 takeoff stamping and F2's
    no-takeoff-no-emission guard across thousands of transitions.

    r6: fold_events gained F1 in EVENT time (a session out-gapped by
    >= 20 minutes is evicted before the next packet folds — the rule
    that makes historical replay agree with the batch pipeline, caught
    by the seeded three-backend equivalence test); the oracle replays
    the same eviction via _SESS0, so this query's results changed in
    lockstep on both engines.

    Scale: one hash exchange on icao24 and an Arrow-batched per-key
    fold — the identical shape one micro-batch of the production
    stream pays; the recursion lives only in the oracle.
    """
    from pyspark.sql.window import Window

    from ..streaming.flight_stream import fold_completed_batch

    e = table(spark, sf_dir, "events").filter(F.col("user_id") % 5 == 0)
    # Synthetic FEED-CADENCE clock (r6): real user timelines span days,
    # so after the event-time TTL landed in fold_events nearly every
    # consecutive pair out-gapped the 20-min TTL and the encoding
    # degenerated to singleton sessions. Re-clock each user's packets at
    # the reference's 5-minute poll cadence in 8-packet episodes
    # separated by a 25-minute (>= TTL) synthetic silence — episodes
    # fold as rich multi-transition sessions AND every episode boundary
    # certifies the event-time eviction (a flight still airborne at the
    # boundary is silently dropped, exactly like remove_inactive). Pure
    # integer window arithmetic, replayed verbatim by the oracle's
    # dynamics CTE.
    #
    # Plan shape: materialize the STRING key first, then partition BOTH
    # windows and the fold's groupBy on that one column — a single hash
    # exchange feeds rn, the cumsum (sorted within partitions, no second
    # exchange) and the Arrow fold (plan pin:
    # test_stream_fold_is_one_exchange_arrow_batch). Ordering uses the
    # FLOORED second, not raw ts: the oracle tie-breaks on
    # (sec, event_id) and two packets in one second must agree.
    keyed = e.select(
        F.col("user_id").cast("string").alias("icao24"),
        "event_id",
        F.floor(F.expr("unix_micros(ts)") / F.lit(1000000.0))
        .cast("long")
        .alias("__sec"),
        F.when(F.col("event_type") == "purchase", 5.0)
        .when(F.col("event_type") == "error", 0.0)
        .otherwise(80.0)
        .alias("velocity"),
        F.when(F.col("event_type") == "signup", 9.0)
        .when(F.col("event_type") == "view", 1.0)
        .when(F.col("event_type") == "click", -5.0)
        .otherwise(0.0)
        .alias("vertical_rate"),
    )
    # Pin the key exchange's width (r11 opt): AQE's byte-based partition
    # coalescing sees a sub-MB shuffle and folds it to ONE partition —
    # but the downstream stages are per-key Python work (two window
    # sorts + the Arrow fold kernel), whose cost AQE cannot see, so the
    # coalesce serialized ~2.4 s of fold CPU onto one core (profiled:
    # two 1.2 s single-task stages). An explicit partition count — the
    # same configured shuffle width the exchange would use anyway —
    # keeps the fold parallel; this replaces (not adds to) the window's
    # own exchange, so the one-exchange plan pin still holds.
    keyed = keyed.repartition(shuffle_width(spark), "icao24")
    w_sec = Window.partitionBy("icao24").orderBy("__sec", "event_id")
    ranked = keyed.withColumn("__rn", F.row_number().over(w_sec))
    step = (
        F.when(F.col("__rn") == 1, F.lit(0))
        .when((F.col("__rn") - 1) % 8 == 0, F.lit(1500))
        .otherwise(F.lit(300))
    )
    w_rn = (
        Window.partitionBy("icao24")
        .orderBy("__rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    src = ranked.withColumn(
        "last_contact", F.lit(1712338215) + F.sum(step).over(w_rn)
    ).select(
        "icao24", "event_id", "last_contact", "velocity", "vertical_rate"
    )
    return fold_completed_batch(src).orderBy("icao24", "landed_at")
