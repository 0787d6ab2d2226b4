#!/usr/bin/env python
"""Pre-snapshot gate: the checks every round must pass before snapshot.

Runs, in order, failing fast:
0. the dead-code guards (tests/test_no_orphans.py — an AST scan of the
   source that takes seconds: orphaned definitions, options no caller
   outside the tests sets, constant private parameters, unused
   imports), so such a regression fails before the long sweeps start;
1. the plan-invariants sweep (tests/test_plan_invariants.py — bans
   row-at-a-time Python nodes, unpruned fact scans, -0.0-unsafe rounds
   across EVERY catalog query's executed plan);
2. the full catalog oracle gate (tools/check_oracles.py) at --sf;
3. the empty-input sweep (tools/check_empty_inputs.py — every query on
   zero-row tables: no exception, populated-identical schema);
4. the one-row and degenerate-text cross-engine stars (rebuilt
   deterministically by tools/make_degenerate_stars.py, then the full
   oracle gate pointed at .one_sf and .degen_sf — every catalog query
   is expected to pass on both;
   these two shapes caught 6 real bugs in round 8, VERDICT r8 #5);
5. the content-hash snapshot (tools/snapshot_query_hashes.py) that lets
   the verification-priority ordering tie the driver's next
   CORRECTNESS round to the exact code it graded.

The empty star's CROSS-engine sweep stays out of the gate by design:
Spark's Expand-based ROLLUP/CUBE emits no () grand-total row over zero
input where ANSI/DuckDB emit one (4 documented divergences, SCALE.md),
so a pass/fail exit code would need an allowlist; the same-engine
schema contract (step 3) is the load-bearing empty check.

Usage: python tools/round_gate.py [--sf /root/testdata/sf0.01]
       [--schema-from /root/testdata/sf0.001] [--skip-stars]
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(label: str, cmd: list[str]) -> None:
    print(f"\n=== {label}: {' '.join(cmd)}", flush=True)
    proc = subprocess.run(cmd, cwd=REPO)
    if proc.returncode != 0:
        print(f"GATE FAILED at: {label}", file=sys.stderr)
        raise SystemExit(proc.returncode)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--schema-from",
        default="/root/testdata/sf0.001",
        help="populated dir for the empty sweep's schema contract and "
        "the degenerate stars' source rows (smallest sf: the stars "
        "take 1-3 rows, the schemas are sf-invariant)",
    )
    ap.add_argument(
        "--skip-snapshot",
        action="store_true",
        help="run the checks only (mid-round); omit the hash snapshot",
    )
    ap.add_argument(
        "--skip-stars",
        action="store_true",
        help="omit the one-row/degenerate-text star sweeps (mid-round "
        "quick gate); the full pre-snapshot gate must run them",
    )
    args = ap.parse_args()
    py = sys.executable
    run(
        "dead-code guards",
        [py, "-m", "pytest", "tests/test_no_orphans.py", "-q"],
    )
    run(
        "plan invariants",
        [py, "-m", "pytest", "tests/test_plan_invariants.py", "-q"],
    )
    run("oracle gate", [py, "tools/check_oracles.py", "--sf", args.sf])
    # zero-row inputs are routine at 100 TB (pruned partitions, filters
    # matching nothing); the r8 first run of this sweep found 15
    # operator crashes — keep it in the gate so the class stays closed
    run(
        "empty-input sweep",
        [py, "tools/check_empty_inputs.py", "--schema-from", args.schema_from],
    )
    if not args.skip_stars:
        # one-row and degenerate-text cross-engine stars: rebuilt from
        # --schema-from each gate run (deterministic: orderBy id), then
        # the full oracle gate against each — every catalog query is
        # expected to pass on both
        # (the 4 ROLLUP/CUBE empty divergences only exist on ZERO rows)
        run(
            "build degenerate stars",
            [py, "tools/make_degenerate_stars.py", "--src", args.schema_from],
        )
        run(
            "one-row star",
            [py, "tools/check_oracles.py", "--sf",
             os.path.join(REPO, ".one_sf")],
        )
        run(
            "degenerate-text star",
            [py, "tools/check_oracles.py", "--sf",
             os.path.join(REPO, ".degen_sf")],
        )
    if not args.skip_snapshot:
        run("hash snapshot", [py, "tools/snapshot_query_hashes.py"])
    print("\nround gate: ALL GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
