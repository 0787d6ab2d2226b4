#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload adsb_batch_cycle --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a source checkout: the workloads import the package
from there. ``--trace 0`` prints the end-to-end metrics of an untraced
run; ``--trace 1`` makes the separate traced run (UI on, spans around
each layer) and prints the per-layer metrics. Spans of a traced run are
written to ``.perfbench/traces/``. Everything else a run writes lives in
``.perfbench/work-<pid>/`` and is deleted when the run ends. See
``perfbench/README.md`` for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name -> unit. BENCHMARK.json lists the same names and units.
END_TO_END = {
    "setup_s": "s",
    "cpu_per_op_s": "s",
    "cpu_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.build_s": "s",
    "rest.ingest_s": "s",
    "flight.plan_s": "s",
    "state.read_s": "s",
    "state.commit_s": "s",
    "state.commit_jobs": "count",
    "state.vacuum_s": "s",
    "state.rows": "count",
    "state.bytes": "bytes",
    "sinks.append_s": "s",
    "sinks.append_jobs": "count",
    "sinks.sink_files": "count",
    "pipeline.ep1_s": "s",
    "pipeline.ep2_s": "s",
    "pipeline.jobs_per_cycle": "count",
    "pipeline.task_s_per_cycle": "s",
    "pipeline.shuffle_bytes_per_cycle": "bytes",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.exec_jobs": "count",
    "plans.task_s": "s",
    "plans.shuffle_bytes": "bytes",
    "plans.spill_bytes": "bytes",
    "plans.single_task_stages": "count",
    "self.session_s": "s",
    "self.rest_s": "s",
    "self.flight_s": "s",
    "self.state_s": "s",
    "self.sinks_s": "s",
    "self.pipeline_s": "s",
    "self.plans_s": "s",
    "trace.overhead_s": "s",
    "stream.fold_query_s": "s",
    "latency.p50_s": "s",
    "latency.tail_s": "s",
    "latency.tail_pct": "pct",
    "latency.samples": "count",
    "throughput.per_s": "1/s",
}

# Measured only by adsb_stream, which BENCHMARK.json does not list.
STREAM_LAYER = {
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.source_s": "s",
    "stream.plan_s": "s",
    "stream.commit_s": "s",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_s": "s",
    "stream.watermark_dropped_rows": "count",
    "stream.no_data_batches": "count",
    "stream.queue_wait_s": "s",
    "gen.lag_max_s": "s",
}


def cpu_busy_s() -> float:
    """Seconds the host's CPUs have spent busy since boot: user, nice,
    system, irq and softirq time from /proc/stat, summed over CPUs. Time
    a hypervisor gave to other guests (steal) and idle time are not in
    it, so the difference over an operation is the CPU the operation
    used, whatever the load next to it."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = fh.readline().split()[1:]
    user, nice, system, _idle, _iowait, irq, softirq = map(int, ticks[:7])
    return (user + nice + system + irq + softirq) / os.sysconf("SC_CLK_TCK")


def tail_percentile(n: int) -> float:
    """The highest of a few standard percentiles with at least ten
    samples beyond it; the maximum when the sample is too small for any."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if round(n * (100 - p) / 100, 6) >= 10:
            return p
    return 100.0


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_metrics(walls: list[float], cpus: list[float]) -> dict[str, float]:
    """The CPU figures (end-to-end) and wall figures (per layer) of the
    timed operations of a run, ``walls[i]`` and ``cpus[i]`` being the
    wall and CPU seconds of operation ``i``."""
    p = tail_percentile(len(walls))
    return {
        "cpu_per_op_s": statistics.fmean(cpus),
        "cpu_tail_s": percentile(cpus, p),
        "latency.p50_s": statistics.median(walls),
        "latency.tail_s": percentile(walls, p),
        "latency.tail_pct": p,
        "latency.samples": len(walls),
    }


class Bench:
    """What one run shares across its phases: arguments, the private work
    directory, the session and the counters for the result line."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.metrics: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        """A path under the work directory; its parent directory exists."""
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def dir(self, name: str) -> str:
        """A directory under the work directory, created."""
        p = os.path.join(self.work, name)
        os.makedirs(p, exist_ok=True)
        return p

    def trace_path(self) -> str:
        """Where a traced run writes its spans; kept after the run."""
        out = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(out, exist_ok=True)
        return os.path.join(out, f"{self.workload}-seed{self.seed}.json")

    def session(self, streaming: bool = False):
        """``build_session`` on every core of this host, with scratch
        space kept inside the work directory. The UI (and with it the
        status endpoints) is on only in traced runs."""
        from aircraftutilization_etl_spark.session import build_session

        n = len(os.sched_getaffinity(0))
        tmp = self.dir("tmp")
        conf = {
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            # a fixed 1 GB heap (initial = max) fills within a run, so
            # the peak RSS does not depend on when the heap chose to grow
            "spark.driver.memory": "1g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms1g"
            ),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
        }
        t0 = time.perf_counter()
        self.spark = build_session(
            app_name="perfbench",
            master=f"local[{n}]",
            shuffle_partitions=n,
            streaming=streaming,
            extra_conf=conf,
        )
        self.session_span = (t0, time.perf_counter())
        self.metrics["session.build_s"] = self.session_span[1] - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM, which in local mode holds the
        executors too."""
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop the session and wait for the JVM process to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway  # noqa: SLF001
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - must not leave it running
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None  # noqa: SLF001
            SparkContext._jvm = None  # noqa: SLF001


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import aircraftutilization_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: package source not found under {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()
    bench = Bench(args)
    os.makedirs(bench.work)
    os.environ["TMPDIR"] = bench.dir("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    try:
        WORKLOADS[args.workload](bench)
        missing = sorted(set(END_TO_END) - set(bench.metrics))
        if missing:
            raise RuntimeError(f"workload did not measure {missing}")
        for name in PER_LAYER:  # a layer the workload bypasses reads 0
            bench.metrics.setdefault(name, 0.0)
        names = END_TO_END
        if bench.trace:
            names = dict(PER_LAYER)
            if args.workload == "adsb_stream":
                names.update(STREAM_LAYER)
        result = {
            "correct": bench.correct and bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {
                k: {"value": float(bench.metrics[k]), "unit": u}
                for k, u in names.items()
            },
        }
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
