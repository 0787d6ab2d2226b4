"""Randomized batch↔stream equivalence.

The single golden scenario in test_streaming.py proves one trajectory;
these tests replay SEEDED-RANDOM micro-batch sequences through the real
Spark batch pipeline (merge_states + classify_and_split, driven exactly
like FlightPipeline drives them) and through the streaming side,
asserting identical emitted flights. Catches divergence in the subtle
interactions: takeoff re-stamping, landings without takeoff, aircraft
reappearing after landing, missing-from-batch cycles, null measures.

Two layers:
- the FOLD test drives the shared ``fold_events`` kernel directly
  (fast, no streaming engine);
- the BACKEND test (VERDICT r5 #7) runs the same sequences through
  the real Structured Streaming engine under each stream kernel —
  applyInPandasWithState (processing-time) and the event-time
  watermark kernel — one parameterized test proving both equivalent
  to the batch pipeline on the same sequences.

TTL eviction is IN scope (r6): extended sequences routinely out-gap the
20-minute TTL, and that is deliberate — seed 1234's >TTL-gap-then-return
shape is what exposed the batch/stream divergence that fold_events'
event-time gap eviction now fixes. Do not shrink gaps to make a seed
pass; a gap failure here means the parity rule regressed.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from stream_poll import poll_stream_sink

from aircraftutilization_etl_spark.operators.flight import (
    classify_and_split,
    merge_states,
)
from aircraftutilization_etl_spark.schemas import (
    METADATA_SCHEMA,
    SOURCE_SCHEMA,
    STATES_SCHEMA,
    empty_df,
)
from aircraftutilization_etl_spark.streaming.flight_stream import (
    completed_flights_stream,
    completed_flights_stream_event_time,
    fold_events,
)

T0 = 1712338215
STEP = 300  # 5-minute cadence, well inside the 20-min TTL

AIRCRAFT = ["a1", "b2", "c3"]
VELOCITIES = [0.0, 5.0, 9.5, 80.0, 250.0, None]
RATES = [0.0, 3.5, -4.0, None]


def _nonvacuous_batches(spark, rng, lc0_prob=0.0):
    """Seeded sequence long enough for the batch leg to emit: a
    no-flight roll (seed 1234's first 8 cycles) would make every
    equivalence assert vacuous, so extend the SAME seeded sequence
    until the reference leg produces output. Returns (batches,
    got_batch); got_batch is asserted non-empty."""
    batches = _random_batches(rng, n_batches=8, lc0_prob=lc0_prob)
    got_batch = _run_batch(spark, batches)
    tries = 0
    while not got_batch and tries < 5:
        batches += _random_batches(
            rng, n_batches=8, start=len(batches), lc0_prob=lc0_prob
        )
        got_batch = _run_batch(spark, batches)
        tries += 1
    assert got_batch, "seeded corpus produced no completed flights"
    return batches, got_batch


def _random_batches(rng, n_batches, start=0, lc0_prob=0.0):
    """lc0_prob injects un-timestamped packets (last_contact=0, the
    reference's not-seen sentinel): the one residual batch/fold
    asymmetry lives there (ADVICE r6 — an lc=0 return packet after a
    >= TTL silence folds into the stale session batch would have
    evicted), so seeded coverage must exercise it."""
    batches = []
    for i in range(start, start + n_batches):
        t = T0 + i * STEP
        batch = []
        for icao in AIRCRAFT:
            if rng.random() < 0.35:  # sometimes absent this cycle
                continue
            lc = 0 if rng.random() < lc0_prob else t
            batch.append(
                (icao, lc, rng.choice(VELOCITIES), rng.choice(RATES))
            )
        batches.append((t, batch))
    return batches


def _state_vector(icao, t, vel, vr):
    return (icao, "CS", "US", t, t, 1.0, 2.0, 100.0, False,
            vel, 10.0, vr, None, 120.0, None, False, 0)


def _run_batch(spark, batches):
    """Drive the batch operators exactly as FlightPipeline does, keeping
    state in memory between cycles; return emitted (icao, takeoff, land)."""
    state = empty_df(spark, SOURCE_SCHEMA)
    metadata = empty_df(spark, METADATA_SCHEMA)
    emitted = []
    for now, batch in batches:
        states = spark.createDataFrame(
            [_state_vector(*ev) for ev in batch], STATES_SCHEMA
        )
        merged = merge_states(states, state, now_epoch=now)
        flights = classify_and_split(merged, metadata)
        rows = flights.complete.select(
            "icao24", "flight_duration_minutes", "landed_at"
        ).collect()
        emitted.extend(
            (r["icao24"], r["flight_duration_minutes"], r["landed_at"])
            for r in rows
        )
        # materialize next-cycle state (what StateStore.commit would do)
        state = spark.createDataFrame(
            flights.active.collect(), flights.active.schema
        )
    return sorted(emitted)


def _run_fold(spark, batches):
    """Same sequence through the streaming per-key fold kernel."""
    sessions: dict[str, tuple] = {}
    emitted = []
    for _, batch in batches:
        for icao, t, vel, vr in batch:
            nan = float("nan")
            events = [(t, nan if vel is None else vel, nan if vr is None else vr)]
            out, sessions[icao] = fold_events(events, sessions.get(icao))
            for takeoff_at, lc in out:
                emitted.append((icao, -(-(lc - takeoff_at) // 60), lc))
    # normalize landed_at to timestamps via one tiny Spark job (T2 parity)
    if not emitted:
        return []
    df = spark.createDataFrame(
        emitted, "icao24 string, dur long, lc long"
    ).select(
        "icao24", F.col("dur").cast("int"), F.timestamp_seconds("lc")
    )
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.slow
@pytest.mark.parametrize(
    ("seed", "lc0_prob"),
    [(7, 0.0), (42, 0.0), (1234, 0.0), (21, 0.25), (99, 0.25), (1234, 0.25)],
)
def test_random_sequences_equivalent(spark, seed, lc0_prob):
    rng = random.Random(seed)
    batches, got_batch = _nonvacuous_batches(spark, rng, lc0_prob=lc0_prob)
    got_fold = _run_fold(spark, batches)
    assert got_batch == got_fold


def test_untimestamped_return_after_ttl_gap_cannot_change_emissions(spark):
    """The exact ADVICE r6 shape, pinned deterministically: a key takes
    off and turns to descend, goes silent past the TTL, then RETURNS
    with an lc=0 packet (no event time). The fold keeps the stale
    descend session (its F1 eviction needs a timestamp) while batch
    remove_inactive evicted it — the documented residual asymmetry —
    but no emission may differ: lc=0 cannot land (U1 needs lc != 0),
    and when the landing-shaped values DO arrive timestamped, both
    sides have evicted and see a fresh 'other' session. The eventual
    completed flight must belong to the post-gap session only."""
    t0 = T0
    gap = TTL_S + 600  # 10 min past the TTL
    t1 = t0 + STEP
    tr = t1 + gap  # return cycle, un-timestamped packet
    t2 = tr + STEP  # timestamped landing-shaped packet (still no flight)
    # second >= TTL gap so t2's takeoff-less session (is_first consumed
    # by a non-climbing packet) evicts before the real second flight
    t3 = t2 + TTL_S + 60  # fresh takeoff
    t4 = t3 + STEP  # descend
    t5 = t4 + STEP  # landing -> the one emission
    batches = [
        (t0, [("a1", t0, 80.0, 3.5)]),   # takeoff stamped at t0
        (t1, [("a1", t1, 80.0, -4.0)]),  # trajectory -> descend
        # >= TTL silence, then the un-timestamped return packet with
        # landing-shaped values: vel < 10, vr == 0 — the stale fold
        # session still says 'descend', so ONLY the lc != 0 guard
        # stands between this packet and a phantom flight
        (tr, [("a1", 0, 5.0, 0.0)]),
        (t2, [("a1", t2, 5.0, 0.0)]),    # timestamped, but both fresh now
        (t3, [("a1", t3, 80.0, 3.5)]),   # second session takeoff
        (t4, [("a1", t4, 80.0, -4.0)]),
        (t5, [("a1", t5, 5.0, 0.0)]),    # lands
    ]
    got_batch = _run_batch(spark, batches)
    got_fold = _run_fold(spark, batches)
    assert got_batch == got_fold
    # exactly one flight, from the SECOND session (t3 takeoff, t5 land)
    assert len(got_batch) == 1
    icao, dur, landed = got_batch[0]
    assert icao == "a1"
    assert dur == -(-(t5 - t3) // 60)


# --- stream-backend equivalence (VERDICT r5 #7) -------------------------

TTL_S = 20 * 60

KERNELS = {
    "apply_in_pandas": completed_flights_stream,
    "event_time": lambda s: completed_flights_stream_event_time(
        s, lateness="10 minutes"
    ),
}


def _run_stream(spark, tmp_path, batches, kernel_name, expected_rows):
    """The same batch sequence through the real streaming engine, one
    micro-batch per file. Two far-future watermark-flush batches on a
    dummy key let the event-time kernel seal and drain every real
    packet (first flush advances the watermark past last_event + TTL,
    second fires the event-time timers); the flush key never takes off
    so it can't emit, and it is harmless to the processing-time
    backend — every backend consumes the IDENTICAL input.

    Termination: keys with live sessions hold ProcessingTimeTimeout /
    event-time timers, and a stateful availableNow query keeps running
    no-data batches while timers are pending — it self-terminates only
    when the 20-min TTL fires, far beyond test scale (and
    processAllAvailable blocks just as long). So the test POLLS the
    sink until ``expected_rows`` committed rows appear (deadline 240 s)
    and then stops the query; a genuine divergence surfaces as the
    final equality diff after the deadline."""
    input_dir = tmp_path / "stream_in"
    input_dir.mkdir(parents=True)
    last_t = max(t for t, _ in batches)
    flush0 = last_t + TTL_S + 1200
    feed = [b for _, b in batches] + [
        [("zz", flush0, 100.0, 0.0)],
        [("zz", flush0 + 60, 100.0, 0.0)],
    ]
    for i, batch in enumerate(feed):
        pdf = pd.DataFrame(
            batch,
            columns=["icao24", "last_contact", "velocity", "vertical_rate"],
        )
        pdf["velocity"] = pdf["velocity"].astype("float64")
        pdf["vertical_rate"] = pdf["vertical_rate"].astype("float64")
        path = input_dir / f"batch_{i:04d}.parquet"
        pdf.to_parquet(path)
        os.utime(path, (T0 + i, T0 + i))  # stable discovery order
    states_stream = (
        spark.readStream.schema(
            "icao24 string, last_contact long, velocity double, "
            "vertical_rate double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(input_dir))
    )
    completed = KERNELS[kernel_name](states_stream)
    out = tmp_path / "out"
    query = (
        completed.writeStream.format("parquet")
        .option("path", str(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    schema = "icao24 string, flight_duration_minutes int, landed_at timestamp"

    def _read():
        try:
            return (
                spark.read.schema(schema)
                .parquet(str(out))
                .filter(F.col("icao24") != "zz")
                .collect()
            )
        except Exception:  # sink dir not created yet
            return []

    return poll_stream_sink(query, _read, expected_rows)


@pytest.mark.slow
@pytest.mark.parametrize("kernel_name", sorted(KERNELS))
@pytest.mark.parametrize("seed", [7, 1234])
def test_three_stream_backends_match_batch(spark, tmp_path, seed, kernel_name):
    rng = random.Random(seed)
    batches, got_batch = _nonvacuous_batches(spark, rng)
    got_stream = _run_stream(spark, tmp_path, batches, kernel_name, len(got_batch))
    assert got_stream == got_batch
