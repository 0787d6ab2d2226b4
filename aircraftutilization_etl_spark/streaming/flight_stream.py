"""Structured Streaming variant of the flight-session pipeline.

The reference implements a stateful stream by hand: an Airflow DAG every
5 minutes reads a keyed state parquet, full-outer-merges the live
snapshot, detects takeoffs/landings, and overwrites the state file
(SURVEY.md §0, §2.9). Here the same session semantics run as a native
Spark Structured Streaming job: ``applyInPandasWithState`` keyed by
``icao24`` holds the per-aircraft session, a 20-minute
ProcessingTimeTimeout replaces the hand-rolled TTL eviction
(reference INACTIVITY_MAX_MINUTES, opensky/transformers.py:24,85-97),
and completed flights are emitted append-mode.

Semantic equivalence with the batch path (operators/flight.py), proven
by tests/test_streaming.py replaying identical micro-batch sequences
through both:

- C3 tri-state rotate: in the batch path ``is_first_contact`` is NULL on
  the cycle a key first appears (→ rotated to True), then True→False on
  the *next* cycle whether or not the key is seen again. Net effect: the
  flag is True during exactly the first cycle of a session. Streaming
  replicates that by treating only a session's first event as
  first-contact.
- U1 status uses the *prior* cycle's trajectory (classification runs
  before the U2 trajectory update in EP2 — complete_flights/
  transformers.py:155-171); the fold preserves that ordering.
- U2 sticky descend survives unseen cycles in the batch path (unseen
  rows get vertical_rate=0 which keeps descend, and climb decays to
  "other" — but status only tests ``== 'descend'``, so skipping
  unseen-cycle updates is emission-equivalent).
- F2: landing rows leave the session state unconditionally, but only
  those with an observed takeoff (takeoff_at != 0) are emitted.
- F1 TTL: state evicted silently after 20 idle minutes (no emission),
  matching ``remove_inactive``. Realized TWICE: the fold kernel evicts
  in EVENT time whenever a key's next timestamped packet arrives >= TTL
  after its flight_last_contact (so historical replay/backfill agrees
  with the batch pipeline, which measures idleness against each cycle's
  now), and the wrapper's processing-/event-time timeout handles keys
  that never return (the fold can't see an absence with no next packet).
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.flight import INACTIVITY_MAX_MINUTES, enrich_completed

TTL_S = INACTIVITY_MAX_MINUTES * 60
TTL_MS = TTL_S * 1000

# Per-aircraft session state carried between micro-batches — the
# streaming realization of the reference's source.parquet row
# (SourceColumns, src/plugins/common/constants.py:13-21) minus the
# per-cycle transient columns.
SESSION_STATE_SCHEMA = StructType(
    [
        StructField("takeoff_at", IntegerType()),
        StructField("flight_last_contact", IntegerType()),
        StructField("flight_trajectory", StringType()),
        StructField("first_event_done", BooleanType()),
    ]
)

# Emitted completed flights, pre-enrichment (reference _transform_complete
# output before the metadata join, complete_flights/transformers.py:123-151).
COMPLETED_SCHEMA = StructType(
    [
        StructField("icao24", StringType()),
        StructField("flight_duration_minutes", IntegerType()),
        StructField("landed_at", TimestampType()),
    ]
)


def _num(v: Any) -> float:
    """C1 sentinel: missing measures read as 0 (na.fill in merge_states)."""
    if v is None:
        return 0.0
    f = float(v)
    return 0.0 if math.isnan(f) else f


def fold_events(
    events: Iterable[tuple[int, float, float]],
    session: tuple[int, int, str, bool] | None,
) -> tuple[list[tuple[int, int]], tuple[int, int, str, bool] | None]:
    """Fold (last_contact, velocity, vertical_rate) events into a session.

    Pure function — the whole per-key kernel, shared by the streaming
    wrapper and the unit tests. Each event replays one reference
    merge+classify cycle (EP1 then EP2) for its key:

    merge (C1/C2/C3) → classify U1 with prior trajectory → on landing,
    drop session and emit (takeoff_at, landed_at_epoch) if a takeoff was
    observed (F2) → else stamp takeoff (C4) and update trajectory (U2).

    Returns (emissions, new_session); new_session None means the session
    ended (landing) or never started.

    F1 is replayed in EVENT time here, not only via the wrapper's
    timeout: the batch pipeline evicts prior state whose
    flight_last_contact sits >= 20 minutes behind the cycle's now
    BEFORE merging (operators/flight.py remove_inactive), so a key
    returning after a >= TTL silence starts a FRESH session — takeoff
    detection re-armed. The fold applies the same rule between
    consecutive timestamped packets, which makes replaying historical
    data (backfill) through any streaming wrapper agree with the batch
    pipeline even though ProcessingTimeTimeout never fires in
    accelerated replay. (Residual asymmetry: a packet with
    last_contact=0 carries no event time, so it folds into a stale
    session that batch would have evicted — un-timestamped packets
    cannot land (U1 requires lc != 0) and a takeoff they stamp carries
    takeoff_at=0 which F2 discards, so no emission can differ, only the
    sticky trajectory until the next timestamped packet.)
    """
    emissions: list[tuple[int, int]] = []
    for last_contact, velocity, vertical_rate in events:
        lc = int(last_contact)
        vel = _num(velocity)
        vr = _num(vertical_rate)
        if session is not None and lc != 0 and lc - session[1] >= TTL_S:
            session = None  # F1 in event time — see docstring
        if session is None:
            takeoff_at, flc, trajectory, first_done = 0, 0, "other", False
        else:
            takeoff_at, flc, trajectory, first_done = session
        is_first = not first_done
        if lc != 0:  # C2 carry-forward
            flc = lc

        # U1 — reference _determine_flight_status
        # (complete_flights/transformers.py:37-71); NaN legs collapsed to
        # the 0 sentinel by _num, mirroring the batch fillna.
        is_takeoff = is_first and vr > 0
        is_landing = (
            lc != 0
            and vr == 0
            and ((trajectory == "descend" and vel < 10) or vel == 0)
        )

        if is_landing:
            if takeoff_at != 0:
                emissions.append((takeoff_at, lc))
            session = None
            continue
        if is_takeoff:  # C4
            takeoff_at = flc
        # U2 — vr>0 climb; vr<0 or sticky descend; else other
        if vr > 0:
            trajectory = "climb"
        elif vr < 0 or trajectory == "descend":
            trajectory = "descend"
        else:
            trajectory = "other"
        session = (takeoff_at, flc, trajectory, True)
    return emissions, session


def _update_session(
    key: tuple[str],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState update function (one key = one aircraft)."""
    if state.hasTimedOut:  # F1 — silent eviction, no emission
        state.remove()
        return
    session = tuple(state.get) if state.exists else None
    rows: list[tuple[int, float, float]] = []
    for pdf in pdf_iter:
        for r in pdf.itertuples(index=False):
            rows.append((r.last_contact, r.velocity, r.vertical_rate))
    rows.sort(key=lambda t: t[0])  # replay in event order
    emissions, session = fold_events(rows, session)
    if session is None:
        if state.exists:
            state.remove()
    else:
        state.update(session)
        state.setTimeoutDuration(TTL_MS)
    if emissions:
        # the SAME emission formatting the event-time wrapper and the
        # batch replay use — U3/T2 must never drift between them
        yield _emissions_pdf(key[0], emissions)


def completed_flights_stream(states_stream: DataFrame) -> DataFrame:
    """states stream (icao24, last_contact, velocity, vertical_rate) →
    append-mode stream of completed flights (pre-enrichment).

    Scale: state lives in the executor-local state store, partitioned by
    the grouping key — the shuffle is one hash exchange on icao24 per
    micro-batch; no global state file is rewritten (the reference
    rewrites its entire source.parquet every 5 minutes,
    opensky/transformers.py:144-146).
    """
    return states_stream.groupBy("icao24").applyInPandasWithState(
        _update_session,
        outputStructType=COMPLETED_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --- Event-time variant -------------------------------------------------
#
# The processing-time kernel above folds events in ARRIVAL order per
# micro-batch: an ADS-B packet delivered one batch late is folded after
# later packets, which can mis-classify a landing. At scale (global
# feeds, relayed ground stations) out-of-order delivery is the norm, so
# this variant keys everything off EVENT time: incoming rows are buffered
# in the state store and only folded once the watermark guarantees no
# earlier packet can still arrive; the 20-minute TTL (F1) becomes an
# event-time timeout measured against the watermark rather than the
# wall clock. Lateness tolerance = the watermark delay.

EVENT_TIME_STATE_SCHEMA = StructType(
    [
        StructField("takeoff_at", IntegerType()),
        StructField("flight_last_contact", IntegerType()),
        StructField("flight_trajectory", StringType()),
        StructField("first_event_done", BooleanType()),
        StructField("has_session", BooleanType()),
        # not-yet-folded events, waiting for the watermark to pass them
        StructField("buf_last_contact", ArrayType(LongType())),
        StructField("buf_velocity", ArrayType(DoubleType())),
        StructField("buf_vertical_rate", ArrayType(DoubleType())),
    ]
)

_EMPTY_SESSION = (0, 0, "other", False)


def _emissions_pdf(key: str, emissions: list[tuple[int, int]]) -> pd.DataFrame:
    # explicit dtypes: an EMPTY frame would otherwise default landed_at
    # to float64, which Arrow cannot cast to timestamp — keys that fold
    # to zero emissions (possible since the event-time gap eviction)
    # must still serialize under COMPLETED_SCHEMA
    return pd.DataFrame(
        {
            "icao24": pd.Series([key] * len(emissions), dtype="object"),
            "flight_duration_minutes": pd.Series(
                [math.ceil((lc - t) / 60) for t, lc in emissions],  # U3
                dtype="int64",
            ),
            "landed_at": pd.Series(
                [pd.Timestamp(lc, unit="s") for _, lc in emissions],
                dtype="datetime64[ns]",
            ),
        }
    )


def _update_session_event_time(
    key: tuple[str],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Event-time update function: buffer until watermark, fold in
    event-time order, evict 20 event-time minutes after the last packet."""
    wm_ms = state.getCurrentWatermarkMs()
    wm_s = wm_ms // 1000

    if state.hasTimedOut:
        # Watermark passed last-event + TTL: every buffered packet is
        # final. Fold the tail (it may contain the landing), then evict
        # whatever session survives — F1 silent TTL eviction.
        (t, flc, traj, fd, has_sess, bl, bv, br) = state.get
        session = (t, flc, traj, fd) if has_sess else None
        tail = sorted(zip(bl or [], bv or [], br or []), key=lambda e: e[0])
        emissions, _ = fold_events(tail, session)
        state.remove()
        if emissions:
            yield _emissions_pdf(key[0], emissions)
        return

    if state.exists:
        (t, flc, traj, fd, has_sess, bl, bv, br) = state.get
        session = (t, flc, traj, fd) if has_sess else None
        buf = list(zip(bl or [], bv or [], br or []))
    else:
        session, buf = None, []

    for pdf in pdf_iter:
        for r in pdf.itertuples(index=False):
            buf.append(
                (int(r.last_contact), float(r.velocity), float(r.vertical_rate))
            )

    # Fold only packets the watermark has sealed; keep the rest buffered.
    ready = sorted((e for e in buf if e[0] <= wm_s), key=lambda e: e[0])
    pending = [e for e in buf if e[0] > wm_s]
    emissions, session = fold_events(ready, session)

    if session is None and not pending:
        if state.exists:
            state.remove()
    else:
        last_event_s = session[1] if session is not None else 0
        if pending:
            last_event_s = max(last_event_s, max(e[0] for e in pending))
        state.update(
            (session if session is not None else _EMPTY_SESSION)
            + (
                session is not None,
                [e[0] for e in pending],
                [e[1] for e in pending],
                [e[2] for e in pending],
            )
        )
        # Spark requires the timeout timestamp to sit above the watermark.
        state.setTimeoutTimestamp(max(last_event_s * 1000 + TTL_MS, wm_ms + 1))

    if emissions:
        yield _emissions_pdf(key[0], emissions)


def completed_flights_stream_event_time(
    states_stream: DataFrame, lateness: str = "10 minutes"
) -> DataFrame:
    """Event-time realization of :func:`completed_flights_stream`.

    ``lateness`` is the watermark delay: packets up to that much behind
    the stream's max event time are re-ordered correctly; older ones are
    dropped by the watermark, mirroring how the reference's 5-minute
    batch snapshot simply never sees a packet delivered later than the
    next poll (opensky/transformers.py:85-97).

    Scale: same single hash exchange on icao24 per micro-batch as the
    processing-time kernel; the buffer adds O(events within the lateness
    window) per key to the state store — bounded by lateness, not by
    stream length.
    """
    stamped = states_stream.withColumn(
        "event_time", F.timestamp_seconds("last_contact")
    ).withWatermark("event_time", lateness)
    return stamped.groupBy("icao24").applyInPandasWithState(
        _update_session_event_time,
        outputStructType=COMPLETED_SCHEMA,
        stateStructType=EVENT_TIME_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def fold_completed_batch(src: DataFrame) -> DataFrame:
    """Batch replay of the per-key session fold — the SAME
    :func:`fold_events` kernel the processing-time and event-time
    streaming wrappers run, applied over a static frame in event-time
    order (last_contact, then event_id as the deterministic tiebreak).

    This is the catalog/driver exposure of the streaming state machine
    (VERDICT r4 #8): the stream wrappers differ from this only in WHEN
    packets are folded (micro-batch arrival vs watermark sealing), and
    tests/test_event_time_stream.py + test_batch_stream_random.py prove
    fold-order equivalence under cross-batch reordering; here the fold
    itself gets a cross-engine hash check against a recursive-CTE
    oracle that replays every transition.

    Input columns: icao24, event_id, last_contact, velocity,
    vertical_rate. Output: COMPLETED_SCHEMA.

    Scale: one hash exchange on icao24, per-key Arrow-batched fold —
    identical shape to one micro-batch of the stream kernel.
    """

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["last_contact", "event_id"])
        emissions, _ = fold_events(
            zip(
                pdf["last_contact"].tolist(),
                pdf["velocity"].tolist(),
                pdf["vertical_rate"].tolist(),
            ),
            None,
        )
        key = pdf["icao24"].iloc[0] if len(pdf) else None
        # the SAME emission formatting the streaming wrappers use —
        # U3/T2 must never drift between the stream and its replay
        return _emissions_pdf(key, emissions)

    return src.groupBy("icao24").applyInPandas(
        fold, schema=COMPLETED_SCHEMA
    )


def run_flight_stream(
    states_stream: DataFrame,
    metadata: DataFrame,
    facts_path: str,
    checkpoint_dir: str,
    available_now: bool = False,
    event_time: bool = False,
    lateness: str = "10 minutes",
    processing_interval: str = "5 minutes",
):
    """Wire the full streaming pipeline to a parquet append sink
    partitioned by landing date (the engine-native realization of the
    reference's Mongo time-series sink, SURVEY.md S6).

    ``event_time=True`` swaps in the watermark-ordered kernel
    (:func:`completed_flights_stream_event_time`) for feeds where
    cross-batch packet reordering is expected."""
    completed = (
        completed_flights_stream_event_time(states_stream, lateness)
        if event_time
        else completed_flights_stream(states_stream)
    )
    facts = enrich_completed(completed, metadata)
    facts = facts.withColumn("landed_date", F.to_date("landed_at"))
    writer = (
        facts.writeStream.format("parquet")
        .option("path", facts_path)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy("landed_date")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()

