"""The benchmark's workloads. Each takes a ``run.Bench``, runs set-up,
the timed window and the output check, and fills the bench's metrics and
counters. ``WORKLOADS`` maps the names in BENCHMARK.json to them.

A traced run (``bench.trace``) also fills the per-layer metrics. It
alternates untraced and traced operations, so it can report the tracing
overhead next to the layer numbers.
"""

from __future__ import annotations

import datetime as dt
import importlib
import json
import os
import statistics
import sys
import time

import fleet as feed
import star
from run import cpu_busy_s, op_metrics, percentile, tail_percentile
from spans import Tracer

FLEET = 10_000  # live aircraft per snapshot: the real feed size
DIMENSION_ROWS = 500_000  # the aircraft database the reference loads daily
# Batch cycles run during set-up, before the first timed one. The first
# cycles that complete flights compile their plans and append paths and
# cost about half again as much CPU as later ones; after three the next
# cycle costs within about a fifth of the ones after it.
RAMP_CYCLES = 3


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


def _prepare_dimension(bench, fleet_icao: list[str]) -> tuple[str, dict]:
    table = feed.dimension(bench.seed, fleet_icao, DIMENSION_ROWS)
    csv_path = bench.path("aircraft.csv")
    feed.write_csv(csv_path, table)
    return csv_path, feed.dimension_index(table, fleet_icao)


def _pipeline(bench, csv_path: str, streaming: bool = False):
    """Session plus the EP3 dimension build: the set-up both flight
    workloads share."""
    from aircraftutilization_etl_spark.pipeline import FlightPipeline

    spark = bench.session(streaming=streaming)
    pipe = FlightPipeline(
        spark, bench.path("state"), bench.path("facts"), bench.path("metadata")
    )
    pipe.run_metadata_etl(csv_path)
    return pipe


def _check_facts(bench, snaps, dimension, facts_path, timed, raised=()) -> None:
    """Compare the sink with the replay oracle snapshot by snapshot: the
    facts for a snapshot are the flights whose landing packet it carried.
    Each snapshot in ``timed`` (poll epochs) counts as attempted; a wrong
    or raising one counts as failed. A wrong snapshot outside the timed
    window makes the run incorrect."""
    want = feed.expected_facts(snaps, dimension)
    got = feed.facts_rows(bench.spark.read.parquet(facts_path))
    t0 = snaps[0][0]
    by_time: dict[int, list[list]] = {}
    for side, rows in ((0, want), (1, got)):
        for r in rows:
            polled = r[2] + (t0 - r[2]) % feed.STEP_S
            by_time.setdefault(polled, [[], []])[side].append(r)
    wrong = {t for t, (w, g) in by_time.items() if w != g}
    bench.attempted += len(timed)
    bench.failed += sum(1 for t in timed if t in wrong or t in raised)
    if wrong - set(timed) or not want:  # no expected flight proves nothing
        bench.correct = False
    if wrong:
        t = min(wrong)
        w, g = by_time[t]
        _log(
            f"facts differ at {t}: {len(w)} expected, {len(g)} written; "
            f"first expected {w[:1]}, first written {g[:1]}"
        )


# -- adsb_batch_cycle ------------------------------------------------------

BATCH_SPANS = (
    # (module[:class], attribute, span): the names pipeline.py calls
    ("aircraftutilization_etl_spark.pipeline", "states_response_to_df", "rest.ingest"),
    ("aircraftutilization_etl_spark.pipeline", "merge_states", "flight.merge"),
    ("aircraftutilization_etl_spark.pipeline", "classify_and_split", "flight.classify"),
    ("aircraftutilization_etl_spark.pipeline", "append_facts", "sinks.append"),
    ("aircraftutilization_etl_spark.pipeline:StateStore", "read", "state.read"),
    ("aircraftutilization_etl_spark.pipeline:StateStore", "current_version", "state.version"),
    ("aircraftutilization_etl_spark.pipeline:StateStore", "commit", "state.commit"),
    ("aircraftutilization_etl_spark.pipeline:StateStore", "vacuum", "state.vacuum"),
    ("aircraftutilization_etl_spark.pipeline:FlightPipeline", "run_active_flights", "pipeline.ep1"),
    ("aircraftutilization_etl_spark.pipeline:FlightPipeline", "run_complete_flights", "pipeline.ep2"),
)


def _patch_batch(tracer: Tracer) -> None:
    for target, attr, name in BATCH_SPANS:
        module, _, cls = target.partition(":")
        owner = importlib.import_module(module)
        tracer.wrap(getattr(owner, cls) if cls else owner, attr, name)


def adsb_batch_cycle(bench) -> None:
    """The reference ``adsb_etl``: EP1 then EP2 per snapshot, one caller
    waiting for each cycle (closed loop)."""
    # the second timed cycle is polled at UTC midnight
    t0 = feed.start_epoch(bench.seed, RAMP_CYCLES + 1)
    fleet = feed.Fleet(bench.seed, FLEET, t0)
    csv_path, dimension = _prepare_dimension(bench, fleet.icao)
    snaps = [fleet.next_snapshot() for _ in range(RAMP_CYCLES)]

    start = time.perf_counter()
    pipe = _pipeline(bench, csv_path)
    for t, vectors in snaps:
        pipe.run_active_flights(feed.payload(t, vectors), now_epoch=t)
        pipe.run_complete_flights()
    bench.metrics["setup_s"] = time.perf_counter() - start

    tracer = Tracer(bench.spark) if bench.trace else None
    walls: dict[int, float] = {}  # poll epoch -> wall seconds of its cycle
    cpus: dict[int, float] = {}  # poll epoch -> CPU seconds of its cycle
    merged: dict[int, int] = {}  # poll epoch -> vectors merged
    traced: set[int] = set()
    raised: set[int] = set()
    begin = time.perf_counter()
    while time.perf_counter() < begin + bench.seconds:
        if tracer:  # trace every other cycle
            if tracer.active:
                tracer.unpatch()
            elif walls:
                _patch_batch(tracer)
        t, vectors = fleet.next_snapshot()
        snaps.append((t, vectors))
        payload = feed.payload(t, vectors)
        # as bench.py does between queries: each cycle starts without the
        # previous cycles' garbage, so their GC debt does not land in it
        bench.spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        u0 = cpu_busy_s()
        c0 = time.perf_counter()
        try:
            pipe.run_active_flights(payload, now_epoch=t)
            pipe.run_complete_flights()
        except Exception as exc:  # noqa: BLE001 - a failed cycle is counted
            _log(f"cycle at {t} raised {exc!r}")
            raised.add(t)
            continue
        walls[t] = time.perf_counter() - c0
        cpus[t] = cpu_busy_s() - u0
        merged[t] = len(vectors)
        if tracer and tracer.active:
            traced.add(t)

    if tracer:
        tracer.unpatch()
    _log("cycles (wall s, CPU s): " + " ".join(
        f"{walls[t]:.2f}/{cpus[t]:.2f}" for t in walls
    ))
    plain = [t for t in walls if t not in traced]  # all, in an untraced run
    bench.metrics.update(op_metrics([walls[t] for t in plain], [cpus[t] for t in plain]))
    bench.metrics["throughput.per_s"] = (
        sum(merged[t] for t in plain) / sum(walls[t] for t in plain)
    )
    bench.metrics["peak_rss_mb"] = bench.peak_rss_mb()
    timed = [t for t, _ in snaps[RAMP_CYCLES:]]
    _check_facts(bench, snaps, dimension, pipe.facts_path, timed, raised)
    if tracer:
        _batch_layers(bench, tracer, pipe, walls, traced)


def _batch_layers(bench, tracer: Tracer, pipe, walls, traced) -> None:
    tracer.attach_stage_metrics()
    kids = tracer.children()
    ep1s = [s for s in tracer.spans if s["name"] == "pipeline.ep1"]
    ep2s = [s for s in tracer.spans if s["name"] == "pipeline.ep2"]
    per_cycle = []
    for ep1, ep2 in zip(ep1s, ep2s):
        spans = tracer.subtree(ep1, kids) + tracer.subtree(ep2, kids)

        def secs(name, spans=spans):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        def jobs(name, spans=spans):
            return sum(
                len(d["jobs"])
                for s in spans if s["name"] == name
                for d in tracer.subtree(s, kids)
            )

        per_cycle.append({
            "rest.ingest_s": secs("rest.ingest"),
            "flight.plan_s": secs("flight.merge") + secs("flight.classify"),
            "state.read_s": secs("state.read"),
            "state.commit_s": secs("state.commit"),
            "state.commit_jobs": jobs("state.commit"),
            "state.vacuum_s": secs("state.vacuum"),
            "sinks.append_s": secs("sinks.append"),
            "sinks.append_jobs": jobs("sinks.append"),
            "pipeline.ep1_s": secs("pipeline.ep1"),
            "pipeline.ep2_s": secs("pipeline.ep2"),
            "pipeline.jobs_per_cycle": sum(len(s["jobs"]) for s in spans),
            "pipeline.task_s_per_cycle": sum(s["task_s"] for s in spans),
            "pipeline.shuffle_bytes_per_cycle": sum(s["shuffle_bytes"] for s in spans),
        })
    for key in per_cycle[0]:
        bench.metrics[key] = statistics.median(c[key] for c in per_cycle)
    for layer, secs_ in tracer.self_seconds_by_layer().items():
        bench.metrics[f"self.{layer}_s"] = secs_ / len(per_cycle)
    bench.metrics["self.session_s"] = bench.metrics["session.build_s"]
    bench.metrics["trace.overhead_s"] = _overhead(walls, traced)

    version = pipe.state.current_version()
    bench.metrics["state.rows"] = pipe.state.read().count()
    bench.metrics["state.bytes"] = sum(
        map(os.path.getsize, _parquet_files(os.path.join(pipe.state.root, version)))
    )
    bench.metrics["sinks.sink_files"] = len(_parquet_files(pipe.facts_path))
    tracer.record("session.build", *bench.session_span)
    tracer.write(bench.trace_path())


def _overhead(walls: dict, traced: set) -> float:
    """Median traced operation minus median untraced operation."""
    on = [w for k, w in walls.items() if k in traced]
    off = [w for k, w in walls.items() if k not in traced]
    return statistics.median(on) - statistics.median(off)


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    ]


# -- adsb_stream -----------------------------------------------------------

STREAM_FLEET = 500  # the 10^4 fleet takes ~14 s per micro-batch here
STREAM_TICK_S = 5.0  # wall seconds between published snapshots
STREAM_RAMP = 1  # snapshots consumed during set-up
LATE_SHARE = 0.05  # vectors delivered one snapshot late
FLUSH_KEY = "ffffff"  # never in the fleet, never takes off
FLUSH_AFTER_S = 2 * 3600  # event time past every watermark timer


def _progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _end_index(progress: dict) -> int:
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return int(end["index"]) if end else 0


def _wait_consumed(query, n_files: int, timeout_s: float = 120) -> None:
    """Block until the micro-batch that reads file ``n_files - 1`` has
    committed; a batch reports progress only after its commit. No
    ``awaitTermination``: pending event-time timers keep no-data batches
    firing, so the query never ends by itself."""
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        exc = query.exception()
        if exc is not None:
            raise exc
        last = query.lastProgress
        if last is not None and _end_index(json.loads(last.json)) >= n_files:
            return
        time.sleep(0.01)
    raise TimeoutError(f"stream did not consume {n_files} files in {timeout_s} s")


def _epoch(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def adsb_stream(bench) -> None:
    """The feed as OpenSky payload files, one per micro-batch, read by the
    ``opensky`` stream source into the event-time flight stream. Open
    loop: one snapshot is published every tick whether or not the query
    keeps up; latency runs from when a file was due to when the batch
    that read it committed."""
    from aircraftutilization_etl_spark.sources.opensky_datasource import (
        OpenSkyDataSource,
    )
    from aircraftutilization_etl_spark.streaming.flight_stream import (
        run_flight_stream,
    )

    n_timed = max(2, int(bench.seconds / STREAM_TICK_S))
    t0 = feed.start_epoch(bench.seed, STREAM_RAMP + n_timed // 2)
    fleet = feed.Fleet(bench.seed, STREAM_FLEET, t0)
    csv_path, dimension = _prepare_dimension(bench, fleet.icao)
    snaps = [fleet.next_snapshot() for _ in range(STREAM_RAMP + n_timed)]
    files = feed.late_delivery(bench.seed, snaps, LATE_SHARE)
    flush = snaps[-1][0] + FLUSH_AFTER_S
    files[-1].append(feed.state_vector(FLUSH_KEY, flush, flush, 100.0, 0.0))
    files.append([feed.state_vector(FLUSH_KEY, flush + 60, flush + 60, 100.0, 0.0)])
    in_dir = bench.dir("payloads")

    def publish(i: int) -> None:
        t = snaps[min(i, len(snaps) - 1)][0]
        feed.publish(os.path.join(in_dir, f"{i:06d}.json"), feed.payload(t, files[i]))

    start = time.perf_counter()
    pipe = _pipeline(bench, csv_path, streaming=True)
    spark = bench.spark
    spark.dataSource.register(OpenSkyDataSource)
    states = spark.readStream.format("opensky").option("payload_dir", in_dir).load()
    query = run_flight_stream(
        states,
        spark.read.parquet(pipe.metadata_path),
        pipe.facts_path,
        bench.path("checkpoint"),
        event_time=True,
        processing_interval="0 seconds",
    )
    try:
        for i in range(STREAM_RAMP):
            publish(i)
            _wait_consumed(query, i + 1)
        bench.metrics["setup_s"] = time.perf_counter() - start

        due: dict[int, float] = {}
        cpu_at = []  # busy CPU seconds at each tick, then at the end
        lag = 0.0
        begin = time.time()
        for j in range(n_timed):
            i = STREAM_RAMP + j
            due[i] = begin + j * STREAM_TICK_S
            time.sleep(max(0.0, due[i] - time.time()))
            lag = max(lag, time.time() - due[i])
            cpu_at.append(cpu_busy_s())
            publish(i)
        # the late tail, then the flushes that move the watermark past
        # every timer; stop once the batch of the last flush committed
        for i in range(STREAM_RAMP + n_timed, len(files)):
            publish(i)
        _wait_consumed(query, len(files))
        cpu_at.append(cpu_busy_s())
        progress = _progress_dicts(query)
    finally:
        query.stop()

    finished: dict[int, float] = {}  # file index -> wall epoch of its commit
    for p in progress:
        done = _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
        for i in range(_end_index(p)):
            finished.setdefault(i, done)
    timed = [
        p for p in progress
        if p["numInputRows"] > 0 and _end_index(p) - 1 in due
    ]
    # one operation is a tick: the snapshot published at it, and the CPU
    # used until the next tick (the last one until the flushes committed)
    bench.metrics.update(op_metrics(
        [finished[i] - due[i] for i in due],
        [b - a for a, b in zip(cpu_at, cpu_at[1:])],
    ))
    bench.metrics["throughput.per_s"] = statistics.median(
        p["processedRowsPerSecond"] for p in timed
    )
    bench.metrics["peak_rss_mb"] = bench.peak_rss_mb()
    bench.metrics["gen.lag_max_s"] = lag
    _stream_layers(bench, progress, timed, due)
    _check_facts(
        bench, snaps, dimension, pipe.facts_path, [t for t, _ in snaps[STREAM_RAMP:]]
    )
    if bench.trace:
        _write_progress_spans(bench, progress)


def _stream_layers(bench, progress, timed, due) -> None:
    """Per-layer figures from the engine's own StreamingQueryProgress,
    medians over the timed data batches."""

    def med(values):
        return statistics.median(list(values))

    def ms(key):
        return med(p["durationMs"].get(key, 0) for p in timed) / 1000

    state = [p["stateOperators"][0] for p in timed]
    bench.metrics.update({
        "stream.trigger_s": ms("triggerExecution"),
        "stream.add_batch_s": ms("addBatch"),
        "stream.source_s": ms("latestOffset") + ms("getBatch"),
        "stream.plan_s": ms("queryPlanning"),
        "stream.commit_s": ms("walCommit") + ms("commitOffsets"),
        "stream.state_rows": med(s["numRowsTotal"] for s in state),
        "stream.state_bytes": med(s["memoryUsedBytes"] for s in state),
        "stream.state_commit_s": med(s["commitTimeMs"] for s in state) / 1000,
        "stream.watermark_dropped_rows": sum(
            p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
            for p in progress if p["stateOperators"]
        ),
        "stream.no_data_batches": sum(1 for p in progress if p["numInputRows"] == 0),
        "stream.queue_wait_s": med(
            _epoch(p["timestamp"]) - due[_end_index(p) - 1] for p in timed
        ),
        # the stream path carries no wrappers: its spans are the
        # engine's progress reports, read after the run
        "trace.overhead_s": 0.0,
    })


def _write_progress_spans(bench, progress) -> None:
    """One span per micro-batch, from the progress reports."""
    spans = []
    for k, p in enumerate(progress):
        start = _epoch(p["timestamp"])
        spans.append({
            "id": k,
            "name": "stream.batch",
            "layer": "stream",
            "parent": None,
            "start": start,
            "end": start + p["durationMs"]["triggerExecution"] / 1000,
            "batch_id": p["batchId"],
            "input_rows": p["numInputRows"],
            "duration_ms": p["durationMs"],
            "state": p["stateOperators"][0] if p["stateOperators"] else None,
        })
    with open(bench.trace_path(), "w", encoding="utf-8") as fh:
        json.dump(spans, fh)


# -- catalog_mix -----------------------------------------------------------

CATALOG_SF = 0.01
# the streaming fold_events kernel (streaming.flight_stream) replayed
# over the events table: the mix's coverage of the stream layer
STREAM_FOLD_QUERY = "q_stream_flight_sessions"
CATALOG_MIX = (
    "q_emb_kmeans",  # iterative: driver jobs run while the plan is built
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q_quota_per_source",  # the sub-second floor
    "q_sample_weighted",
    "q_events_moving_avg",
    "q_events_ewma",  # Arrow lane
    STREAM_FOLD_QUERY,
)


def _run_query(
    spark, star_dir: str, name: str, tracer: Tracer | None = None
) -> tuple[float, float]:
    """One bench.py-style execution: caches cleared, full plan through
    the noop sink. Returns its wall and CPU seconds."""
    from aircraftutilization_etl_spark.plans import CATALOG

    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    u0 = cpu_busy_s()
    t0 = time.perf_counter()
    if tracer is None:
        CATALOG[name].spark(spark, star_dir).write.mode("overwrite").format("noop").save()
    else:
        with tracer.span("plans.query", query=name):
            with tracer.span("plans.build", query=name):
                df = CATALOG[name].spark(spark, star_dir)
            with tracer.span("plans.exec", query=name):
                df.write.mode("overwrite").format("noop").save()
    wall = time.perf_counter() - t0
    return wall, cpu_busy_s() - u0


def catalog_mix(bench) -> None:
    """Catalog queries over a seeded star, one caller, as bench.py runs
    them; passes over the mix repeat until the window closes."""
    star_dir = bench.dir("star")
    star.write(bench.seed, CATALOG_SF, star_dir)
    expected = _oracle_hashes(star_dir)

    start = time.perf_counter()
    spark = bench.session()
    # The output check is the warm-up: it runs every query of the mix
    # once, so no timed pass pays for the first run's JIT, codegen and
    # Python worker start.
    wrong = _check_catalog(spark, star_dir, expected)
    bench.metrics["setup_s"] = time.perf_counter() - start

    tracer = Tracer(spark) if bench.trace else None
    walls: dict[str, list[float]] = {q: [] for q in CATALOG_MIX}
    cpus: dict[str, list[float]] = {q: [] for q in CATALOG_MIX}
    passes = 0  # complete passes over the mix
    paired: list[float] = []  # traced minus untraced wall, same query
    raised: dict[str, int] = {}
    deadline = time.perf_counter() + bench.seconds
    while not passes or time.perf_counter() < deadline:
        for name in CATALOG_MIX:
            if passes and time.perf_counter() >= deadline:
                break
            try:
                if tracer and passes % 2:  # alternate which runs first
                    on, _ = _run_query(spark, star_dir, name, tracer)
                    wall, cpu = _run_query(spark, star_dir, name)
                else:
                    wall, cpu = _run_query(spark, star_dir, name)
                    on = tracer and _run_query(spark, star_dir, name, tracer)[0]
                if tracer:
                    paired.append(on - wall)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted
                _log(f"{name} raised {exc!r}")
                raised[name] = raised.get(name, 0) + 1
                continue
            walls[name].append(wall)
            cpus[name].append(cpu)
        else:
            passes += 1

    # One operation is a pass over the mix, and a pass at a percentile is
    # the sum of each query's figure at that percentile: a percentile
    # pooled over different queries would jump between queries from run
    # to run.
    ran = [q for q in CATALOG_MIX if walls[q]]
    tail = tail_percentile(min(len(walls[q]) for q in ran))
    bench.metrics.update({
        "cpu_per_op_s": sum(statistics.fmean(cpus[q]) for q in ran),
        "cpu_tail_s": sum(percentile(cpus[q], tail) for q in ran),
        "latency.p50_s": sum(statistics.median(walls[q]) for q in ran),
        "latency.tail_s": sum(percentile(walls[q], tail) for q in ran),
        "latency.tail_pct": tail,
        "latency.samples": passes,
        "throughput.per_s": (
            sum(len(walls[q]) for q in ran) / sum(sum(walls[q]) for q in ran)
        ),
    })
    bench.metrics["peak_rss_mb"] = bench.peak_rss_mb()
    bench.attempted += sum(map(len, walls.values())) + sum(raised.values())
    bench.failed += sum(raised.values()) + sum(len(walls[q]) for q in wrong)
    if tracer:
        bench.metrics["trace.overhead_s"] = statistics.median(paired)
        _catalog_layers(bench, tracer)


def _oracle_hashes(star_dir: str) -> dict[str, tuple]:
    """Each query's DuckDB oracle on the star: sorted column names, row
    count and the order-insensitive value hash of tools/check_oracles.py."""
    import duckdb

    from aircraftutilization_etl_spark.plans import CATALOG
    from tools.check_oracles import TABLES, table_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{star_dir}/{t}.parquet'")
        out = {}
        for name in CATALOG_MIX:
            rel = con.sql(CATALOG[name].oracle)
            cols = [d[0] for d in rel.description]
            rows = rel.fetchall()
            out[name] = (sorted(cols), len(rows), table_hash(cols, rows))
        return out
    finally:
        con.close()


def _check_catalog(spark, star_dir: str, expected: dict[str, tuple]) -> set[str]:
    """Names of the mix's queries whose Spark output differs from its
    oracle hash."""
    from aircraftutilization_etl_spark.plans import CATALOG
    from tools.check_oracles import table_hash

    wrong = set()
    for name in CATALOG_MIX:
        spark.catalog.clearCache()
        df = CATALOG[name].spark(spark, star_dir)
        rows = [tuple(r) for r in df.collect()]
        if (sorted(df.columns), len(rows), table_hash(df.columns, rows)) != expected[name]:
            _log(f"{name}: output differs from its DuckDB oracle")
            wrong.add(name)
    return wrong


def _catalog_layers(bench, tracer: Tracer) -> None:
    tracer.attach_stage_metrics()
    kids = tracer.children()
    per_query: dict[str, list[dict]] = {}
    for q in tracer.spans:
        if q["name"] != "plans.query":
            continue
        build, exec_ = kids[q["id"]]
        under = tracer.subtree(q, kids)
        per_query.setdefault(q["query"], []).append({
            "plans.build_s": build["end"] - build["start"],
            "plans.build_jobs": len(build["jobs"]),
            "plans.exec_s": exec_["end"] - exec_["start"],
            "plans.exec_jobs": len(exec_["jobs"]),
            "plans.task_s": sum(s["task_s"] for s in under),
            "plans.shuffle_bytes": sum(s["shuffle_bytes"] for s in under),
            "plans.spill_bytes": sum(s["spill_bytes"] for s in under),
            "plans.single_task_stages": sum(s["single_task_stages"] for s in under),
        })
    # per pass over the mix: the sum over queries of each query's median
    for key in next(iter(per_query.values()))[0]:
        bench.metrics[key] = sum(
            statistics.median(r[key] for r in runs) for runs in per_query.values()
        )
    bench.metrics["stream.fold_query_s"] = statistics.median(
        r["plans.build_s"] + r["plans.exec_s"] for r in per_query[STREAM_FOLD_QUERY]
    )
    n_passes = sum(map(len, per_query.values())) / len(per_query)
    for layer, secs in tracer.self_seconds_by_layer().items():
        bench.metrics[f"self.{layer}_s"] = secs / n_passes
    bench.metrics["self.session_s"] = bench.metrics["session.build_s"]
    tracer.record("session.build", *bench.session_span)
    tracer.write(bench.trace_path())


WORKLOADS = {
    "adsb_batch_cycle": adsb_batch_cycle,
    "adsb_stream": adsb_stream,
    "catalog_mix": catalog_mix,
}
