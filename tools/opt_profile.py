#!/usr/bin/env python
"""Optimization-round profiler: isolated per-query timing + plan capture.

Usage:
    python tools/opt_profile.py [--reps N] [--plan-dir DIR] [--no-time] q1 q2 ...
    python tools/opt_profile.py --all-plans --plan-dir DIR   # explain only

Timing uses bench.py's own session, warm-up and per-rep reset (noop
sink, JVM GC and one cache scope per rep, best-of-N) so numbers are
comparable; plans are
``explain("formatted")`` written to ``<plan-dir>/<name>.txt``. Each
query's plan is built after ``clearCache()`` and inside its own cache
scope, so a dump never shows another query's cache.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _stage_dump(spark, since_ms: float) -> list[dict]:
    """Per-stage metrics for stages submitted after ``since_ms`` (epoch
    millis) — the last timed rep. Uses the UI REST API."""
    import datetime as _dt
    import urllib.request

    base = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app_id}/stages?status=complete"
    with urllib.request.urlopen(url, timeout=10) as resp:
        stages = json.load(resp)

    def _ms(ts: str | None) -> float:
        if not ts:
            return 0.0
        ts = ts.replace("GMT", "+0000")
        return (
            _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()
            * 1000.0
        )

    rows = []
    for s in stages:
        sub = _ms(s.get("firstTaskLaunchedTime") or s.get("submissionTime"))
        if sub < since_ms:
            continue
        dur = _ms(s.get("completionTime")) - sub
        rows.append(
            {
                "stage": s["stageId"],
                "name": s.get("name", "")[:80],
                "wall_ms": round(dur),
                "task_ms": s.get("executorRunTime"),
                "tasks": s.get("numCompleteTasks"),
                "in_MB": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_r_MB": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_w_MB": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "desc": (s.get("description") or "")[:60],
            }
        )
    rows.sort(key=lambda r: -(r["task_ms"] or 0))
    return rows


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="*", help="catalog query names")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default="")
    ap.add_argument("--no-time", action="store_true")
    ap.add_argument("--all-plans", action="store_true")
    ap.add_argument(
        "--stages",
        action="store_true",
        help="enable the UI and dump per-stage metrics (REST API) after "
        "each query's final rep",
    )
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from aircraftutilization_etl_spark.operators.distribute import cache_scope
    from aircraftutilization_etl_spark.plans import CATALOG
    from bench import bench_session, timed_rep, warm_up

    spark = bench_session(ui=args.stages)

    names = list(args.names)
    if args.all_plans:
        names = sorted(CATALOG)

    warm_up(spark, sf_dir)

    out: dict[str, object] = {}
    for name in names:
        qd = CATALOG[name]
        try:
            if args.plan_dir:
                import contextlib
                import io

                os.makedirs(args.plan_dir, exist_ok=True)
                buf = io.StringIO()
                spark.catalog.clearCache()
                with cache_scope(), contextlib.redirect_stdout(buf):
                    qd.spark(spark, sf_dir).explain("formatted")
                path = os.path.join(
                    args.plan_dir, f"{name}{args.plan_suffix}.txt"
                )
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write(buf.getvalue())
            if args.no_time:
                out[name] = "plan-only"
                continue
            times = []
            spark.sparkContext.setJobDescription(f"opt: {name}")
            for _ in range(args.reps):
                t0 = time.time()
                times.append(round(timed_rep(spark, qd, sf_dir), 3))
            out[name] = {"best": min(times), "times": times}
            if args.stages:
                out[name]["stages"] = _stage_dump(spark, t0 * 1000.0)
            print(f"{name}: {min(times)} {times}", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            out[name] = f"ERROR {type(exc).__name__}: {exc}"[:300]
            print(f"{name} FAILED: {out[name]}", file=sys.stderr)
    print(json.dumps(out, indent=1))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
