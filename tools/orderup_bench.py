#!/usr/bin/env python
"""Order-up perf trend for the heavy tail (VERDICT r10 #3): run the
top-10 most expensive headline queries at sf0.1 AND the sf1-equivalent
upscaled data (tools/upscale_testdata.py -> .bench_sf1, 10x every
table) in the SAME session, and print per-query wall ratios for the
SCALE.md table.

Methodology is bench.py's own: its session, warm-up and per-rep reset
(JVM GC, one cache scope per rep), a noop-sink write executes the full plan,
best-of-N reps filters the host's transient stalls (N=3 at sf0.1, N=2 at sf1 — the sf1 legs are
minutes-long, and a stall that survives two full reps would be visible
as an implausible ratio, re-arbitrated by hand).

Usage: python tools/orderup_bench.py [--sf01 /root/testdata/sf0.1]
           [--sf1 .bench_sf1] [--only name1,name2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the r10 bench's 10 most expensive headline entries (BENCH_r10 side
# file), i.e. the queries whose at-scale behavior carries real risk
HEAVY = [
    "q_dedup_edit_distance",
    "q_quality_classifier",
    "q_emb_pq_rerank",
    "q_stream_flight_sessions",
    "q_graph_pagerank",
    "q_emb_kmeans",
    "q_dedup_simhash_pairs",
    "q_text_skipgram_pairs",
    "q_hybrid_rrf",
    "q_curation_funnel",
]


def main() -> int:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf01", default="/root/testdata/sf0.1")
    ap.add_argument("--sf1", default=os.path.join(repo, ".bench_sf1"))
    ap.add_argument("--only", default=None)
    args = ap.parse_args()

    from aircraftutilization_etl_spark.plans import CATALOG
    from bench import bench_session, timed_rep, warm_up

    spark = bench_session()
    warm_up(spark, args.sf01)

    names = args.only.split(",") if args.only else HEAVY
    rows = {}
    for name in names:
        qd = CATALOG[name]
        t01 = min(timed_rep(spark, qd, args.sf01) for _ in range(3))
        t1 = min(timed_rep(spark, qd, args.sf1) for _ in range(2))
        rows[name] = {
            "sf0.1_sec": round(t01, 2),
            "sf1_sec": round(t1, 2),
            "ratio": round(t1 / t01, 2),
        }
        print(
            f"{name}: sf0.1 {t01:.2f}s -> sf1 {t1:.2f}s "
            f"= {t1 / t01:.2f}x (10x data)",
            flush=True,
        )
    out = os.path.join(repo, ".orderup_bench.json")
    with open(out, "w") as f:
        json.dump(rows, f, indent=1)
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
