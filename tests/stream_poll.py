"""Shared sink-polling protocol for stateful availableNow queries.

A stateful availableNow query with pending ProcessingTimeTimeout state
(the 20-min TTL on never-landed aircraft) keeps running no-data batches
until the TTL fires, so it never self-terminates at test scale —
awaitTermination silently times out and processAllAvailable blocks just
as long. Tests therefore poll the committed sink for the expected row
count. This helper is the single copy of that protocol, and it closes
the early-stop blind spot: after the expected rows appear it keeps the
query alive for a bounded grace window (two further micro-batches, or a
time cap — the no-data batches the pending timers keep scheduling
advance batchId quickly) so a backend that over-emits in a later batch
commits the extra rows where the caller's equality assert can see them.
"""

from __future__ import annotations

import time


def drain_available_now(query, deadline_s: float = 120, idle_batches: int = 3):
    """Stop a stateful availableNow query once its sources are drained.

    Pending ProcessingTimeTimeout state (the 20-min TTL) keeps no-data
    batches firing after the backlog is consumed, so the query never
    self-terminates at test scale — ``awaitTermination(120)`` just
    burned its full timeout AND left the query running (the leaked
    no-data batch loop churned ~1.4 batches/s in the shared session for
    the rest of the module — the r12 suite profile measured the two
    tests built on it at 483 s and 125 s). "Drained" = ``idle_batches``
    consecutive COMMITTED no-data batches: availableNow serves backlog
    files back-to-back while any remain, so a no-data batch proves the
    backlog is consumed and every prior emission is committed.
    """
    deadline = time.time() + deadline_s
    idle = 0
    last_batch = -1
    while time.time() < deadline and query.isActive:
        exc = query.exception()
        if exc is not None:
            raise exc
        prog = query.lastProgress
        if prog and prog["batchId"] != last_batch:
            last_batch = prog["batchId"]
            if prog["numInputRows"] == 0:
                idle += 1
                if idle >= idle_batches:
                    break
            else:
                idle = 0
        time.sleep(0.2)
    query.stop()
    query.awaitTermination(60)


def poll_stream_sink(
    query,
    read_rows,
    expected_rows: int,
    deadline_s: float = 240,
    grace_batches: int = 2,
    grace_s: float = 20,
):
    """Wait until ``read_rows()`` returns at least ``expected_rows``
    rows, hold the query through the grace window, stop it, and return
    the final committed rows (sorted tuples).

    ``expected_rows`` must be >= 1: with 0 the wait AND the
    over-emission window would both be vacuous, so the caller's
    equality assert would pass without the stream processing anything.
    """
    if expected_rows < 1:
        raise AssertionError(
            "expected_rows must be >= 1 — a 0-row expectation makes the "
            "stream leg vacuous; pick a seed/fixture that produces output"
        )

    def _check_failed():
        exc = query.exception()
        if exc is not None:
            raise exc

    deadline = time.time() + deadline_s
    while time.time() < deadline:
        _check_failed()
        if len(read_rows()) >= expected_rows:
            break
        time.sleep(2)
    # over-emission grace: let the query commit what it is still going
    # to commit before we freeze the sink for the final comparison
    start_batch = (query.lastProgress or {}).get("batchId", -1)
    grace_end = time.time() + grace_s
    while time.time() < grace_end:
        _check_failed()
        if not query.isActive:  # self-terminated: nothing more can commit
            break
        prog = query.lastProgress or {}
        if prog.get("batchId", -1) >= start_batch + grace_batches:
            break
        time.sleep(1)
    query.stop()
    query.awaitTermination(60)
    return sorted(tuple(r) for r in read_rows())
