"""Seeded ADS-B feed for the two flight workloads.

One ``Fleet`` produces OpenSky-shaped ``/api/states/all`` snapshots for a
steady population of aircraft, one snapshot per 5-minute cycle. Every
aircraft loops through parked -> takeoff -> cruise -> descend -> landing,
so takeoffs and landings happen on every cycle. The feed also carries the
irregular shapes the pipeline has to survive:

- absent cycles (an aircraft missing from one snapshot);
- silences longer than the 20-minute state TTL;
- ``last_contact=0`` sentinels (packets with no timestamp);
- null velocity or vertical rate;
- aircraft missing from the aircraft dimension (about one in ten).

``last_contact`` trails the poll time by up to a minute, so flight
durations are not whole minutes and their rounding is checked. The batch
cycle measures the 20-minute TTL against the poll time, while the stream
kernel measures it between packets, so the two disagree on a key that
returns exactly four cycles after its last timestamped packet. The feed
therefore never has a transient gap of three dark cycles in a row; its
silences are five cycles or longer, which both paths evict alike.

A ``last_contact=0`` packet always carries a null vertical rate. Such a
packet has no event time, so the event-time stream cannot place it and
its watermark drops it, while the batch cycle folds it in. With a null
vertical rate the packet changes no emitted flight on either path: it
cannot land (landing needs a timestamp), cannot take off (takeoff needs a
climb) and only turns a ``climb`` trajectory into ``other``, which no
classification distinguishes.

The same seed gives the same snapshots, byte for byte. ``expected_facts``
replays the in-order feed through the package's pure-Python session
kernel, which is the oracle both workloads are checked against.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

STEP_S = 300  # the reference's 5-minute cadence
MAX_LAG_S = 59  # last_contact trails the poll by up to this much
N_VECTOR = 17

# phases of one aircraft's loop
PARKED, TAKEOFF, CRUISE, DESCEND, LANDING, SILENT = range(6)

P_ABSENT = 0.03  # vector missing from one snapshot
P_SILENCE = 0.002  # start of a silence longer than the TTL
P_LC_ZERO = 0.01  # last_contact=0 sentinel
P_NULL = 0.01  # null velocity or vertical rate
P_NOT_IN_DIMENSION = 0.10

MANUFACTURERS = ["AIRBUS", "BOEING", "EMBRAER", "BOMBARDIER", "ATR", "CESSNA"]
MODELS = ["A320", "A321", "737-800", "787-9", "E190", "CRJ900", "ATR 72", "172S"]
OPERATORS = ["Skyline", "Aero North", "Blue Air", "", "Transcontinental"]


def icao24_of(i: int) -> str:
    return f"{0x300000 + i * 7:06x}"


class Fleet:
    """Deterministic snapshot sequence: ``next_snapshot()`` returns
    ``(epoch, vectors)`` for cycles 0, 1, 2, ... in order."""

    def __init__(self, seed: int, n_aircraft: int, t0: int) -> None:
        self.rng = random.Random(seed)
        self.t0 = t0
        self.cycle = 0
        self.icao = [icao24_of(i) for i in range(n_aircraft)]
        # start every aircraft somewhere in its loop, so the fleet is
        # steady from the first snapshot
        self.phase = [self.rng.choice((PARKED, CRUISE)) for _ in self.icao]
        self.left = [self.rng.randint(1, 8) for _ in self.icao]
        self.dark = [0 for _ in self.icao]  # cycles since a timestamped packet

    def next_snapshot(self) -> tuple[int, list[list]]:
        rng = self.rng
        t = self.t0 + self.cycle * STEP_S
        self.cycle += 1
        vectors = []
        for i, icao in enumerate(self.icao):
            vel, vr = self._advance(i)
            self.dark[i] += 1
            if vel is None:  # silent this cycle
                continue
            # see module docstring: a transient gap stops short of 3 cycles
            may_drop = self.dark[i] < 3
            if may_drop and rng.random() < P_ABSENT:
                continue
            if may_drop and rng.random() < P_LC_ZERO:
                vectors.append(state_vector(icao, t, 0, vel, None))
                continue
            self.dark[i] = 0
            lc = t - rng.randint(0, MAX_LAG_S)
            if rng.random() < P_NULL:
                if rng.random() < 0.5:
                    vel = None
                else:
                    vr = None
            vectors.append(state_vector(icao, t, lc, vel, vr))
        return t, vectors

    def _advance(self, i: int) -> tuple[float | None, float | None]:
        """Step aircraft ``i`` one cycle; (velocity, vertical_rate) of its
        packet, or (None, None) while it is silent."""
        rng = self.rng
        phase = self.phase[i]
        if phase != SILENT and rng.random() < P_SILENCE:
            self.phase[i], self.left[i] = SILENT, rng.randint(5, 9)
            return None, None
        self.left[i] -= 1
        if phase == SILENT:
            if self.left[i] <= 0:
                self.phase[i], self.left[i] = CRUISE, rng.randint(1, 6)
            return None, None
        if phase == PARKED:
            if self.left[i] <= 0:
                self.phase[i], self.left[i] = TAKEOFF, 1
            return 0.0, 0.0
        if phase == TAKEOFF:
            self.phase[i], self.left[i] = CRUISE, rng.randint(3, 12)
            return round(rng.uniform(70, 140), 2), round(rng.uniform(3, 15), 2)
        if phase == CRUISE:
            if self.left[i] <= 0:
                self.phase[i], self.left[i] = DESCEND, rng.randint(1, 3)
            return round(rng.uniform(180, 260), 2), rng.choice((0.0, 0.0, 0.3, -0.3))
        if phase == DESCEND:
            if self.left[i] <= 0:
                self.phase[i], self.left[i] = LANDING, 1
            return round(rng.uniform(90, 200), 2), round(rng.uniform(-12, -2), 2)
        # LANDING: slow and level, then parked for a few cycles
        self.phase[i], self.left[i] = PARKED, rng.randint(1, 5)
        return round(rng.uniform(0, 9.5), 2), 0.0


def state_vector(icao: str, t: int, lc: int, vel, vr) -> list:
    """One 17-element OpenSky state vector polled at ``t``."""
    return [
        icao,
        f"CS{icao[-4:].upper()} ",
        "Testland",
        t - MAX_LAG_S,
        lc,
        12.5,
        48.1,
        10000.0 if vel and vel > 100 else 300.0,
        not vel,
        vel,
        90.0,
        vr,
        None,
        10050.0,
        "1000",
        False,
        0,
    ]


def payload(t: int, vectors: list[list]) -> dict:
    return {"time": t, "states": vectors}


def snapshots(seed: int, n_aircraft: int, t0: int, n: int) -> list[tuple[int, list]]:
    fleet = Fleet(seed, n_aircraft, t0)
    return [fleet.next_snapshot() for _ in range(n)]


def start_epoch(seed: int, cycles_before_midnight: int) -> int:
    """A seeded date, positioned so the simulated clock crosses UTC
    midnight ``cycles_before_midnight`` cycles after the start."""
    day = dt.datetime(2024, 4, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        days=seed % 200
    )
    return int(day.timestamp()) - cycles_before_midnight * STEP_S


def late_delivery(
    seed: int, snaps: list[tuple[int, list]], share: float
) -> list[list[list]]:
    """Files as the stream receives them: a seeded ``share`` of each
    snapshot's vectors is delivered with the next snapshot instead. The
    last snapshot's late vectors form one extra file."""
    rng = random.Random(seed ^ 0x5EED)
    files: list[list[list]] = [[] for _ in range(len(snaps) + 1)]
    for k, (_, vectors) in enumerate(snaps):
        for v in vectors:
            files[k + 1 if rng.random() < share else k].append(v)
    return files


def dimension(seed: int, fleet_icao: list[str], n_rows: int) -> pa.Table:
    """The aircraft database as the reference downloads it: about 90% of
    the fleet plus filler aircraft up to ``n_rows``, every column a
    string. ``built`` mixes valid dates, blanks and unparseable text;
    blanks are nulls, which the CSV writes as empty fields."""
    rng = np.random.default_rng(seed ^ 0xD1)
    keep = [c for c, r in zip(fleet_icao, rng.random(len(fleet_icao)))
            if r >= P_NOT_IN_DIMENSION]
    ids = keep + [
        icao24_of(len(fleet_icao) + j) for j in range(max(0, n_rows - len(keep)))
    ]
    ids = [ids[j] for j in rng.permutation(len(ids)).tolist()]
    n = len(ids)

    def ints(lo: int, hi: int) -> list[int]:
        return rng.integers(lo, hi, n).tolist()

    def pick(values: list[str]) -> list[str]:
        return [values[j] for j in ints(0, len(values))]

    built = [
        f"{y}-{m:02d}-{d:02d}" if r < 0.8 else (None if r < 0.9 else "unknown")
        for y, m, d, r in zip(ints(1970, 2024), ints(1, 13), ints(1, 29),
                              rng.random(n).tolist())
    ]
    maker = pick(MANUFACTURERS)
    return pa.table({
        "icao24": ids,
        "registration": [f"N{v}" for v in ints(100, 99999)],
        "manufacturericao": maker,
        "manufacturername": [m.title() for m in maker],
        "model": pick(MODELS),
        "typecode": [f"T{v}" for v in ints(10, 99)],
        "serialnumber": [str(v) for v in ints(1, 40000)],
        "operator": [o or None for o in pick(OPERATORS)],
        "operatorcallsign": pa.nulls(n, pa.string()),
        "owner": [f"Owner {v}" for v in ints(1, 5000)],
        "built": pa.array(built, pa.string()),
        "status": ["active"] * n,
    })


def write_csv(path: str, table: pa.Table) -> None:
    """Header line, then one line per aircraft; nulls are empty fields."""
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))


def dimension_index(table: pa.Table, fleet_icao: list[str]) -> dict[str, tuple]:
    """icao24 -> the enrichment the sink should hold for it, for the
    fleet's aircraft: (registration, model, manufacturer_icao, owner,
    operator, built), with ``built`` as ``yyyy-MM-dd`` or None."""
    table = table.filter(pc.is_in(table.column("icao24"), pa.array(fleet_icao)))
    cols = [
        table.column(c).to_pylist()
        for c in ("icao24", "registration", "model", "manufacturericao",
                  "owner", "operator", "built")
    ]
    out = {}
    for icao, reg, model, maker, owner, operator, built in zip(*cols):
        try:
            built = dt.date.fromisoformat(built).isoformat()
        except (TypeError, ValueError):
            built = None
        out[icao] = (reg, model, maker, owner, operator, built)
    return out


def publish(path: str, obj: dict) -> None:
    """Write a JSON file atomically: a reader listing ``*.json`` never
    sees a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)
    os.replace(tmp, path)


def expected_facts(snaps, dimension: dict[str, tuple]) -> list[tuple]:
    """The oracle: replay the in-order feed through ``fold_events`` one
    packet at a time and enrich each emitted flight from the dimension.
    Rows are ``(icao24, minutes, landed_epoch, registration, model,
    manufacturer_icao, owner, operator, built)`` with ``built`` as
    ``yyyy-MM-dd`` or None."""
    from aircraftutilization_etl_spark.streaming.flight_stream import fold_events

    sessions: dict[str, tuple] = {}
    out = []
    for _, vectors in snaps:
        for v in vectors:
            icao, lc, vel, vr = v[0], v[4], v[9], v[11]
            emitted, sessions[icao] = fold_events([(lc, vel, vr)], sessions.get(icao))
            for takeoff_at, landed in emitted:
                out.append(
                    (icao, math.ceil((landed - takeoff_at) / 60), landed)
                    + dimension.get(icao, (None,) * 6)
                )
    return sorted(out, key=_sort_key)


def _sort_key(row: tuple):
    return tuple((v is None, v) for v in row)


def facts_rows(df) -> list[tuple]:
    """Sink rows in the oracle's shape, sorted."""
    from pyspark.sql import functions as F

    rows = df.select(
        "icao24",
        "flight_duration_minutes",
        F.unix_seconds("landed_at"),
        "registration",
        "model",
        "manufacturer_icao",
        "owner",
        "operator",
        F.date_format("built", "yyyy-MM-dd"),
    ).collect()
    return sorted((tuple(r) for r in rows), key=_sort_key)
