#!/usr/bin/env python3
"""Compare the seeded star with a copy of the catalog's test data.

    python3 perfbench/compare_star.py --testdata DIR --sf 0.01 --seed 1

``DIR`` holds the test data at scale factor ``--sf`` (TESTDATA.md). The
script writes the star for ``--seed`` at the same scale factor and
prints, per table, the row counts and each column's parquet type and
value range (distinct count for strings) on both sides; then, per query
of the ``catalog_mix`` mix, the rows it returns and the median wall of
three bench.py-style runs on each side. Run from the root of a source checkout.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import run
import star
import workloads


def _columns(path: str) -> dict[str, tuple]:
    """column -> (parquet physical type, logical type, min, max)."""
    meta = pq.ParquetFile(path).schema
    table = pq.read_table(path)
    out = {}
    for i in range(len(meta)):
        col = meta.column(i)
        data = table.column(col.path.split(".")[0])
        if pa.types.is_integer(data.type) or pa.types.is_floating(data.type) \
                or pa.types.is_timestamp(data.type):
            span = (str(pc.min(data).as_py()), str(pc.max(data).as_py()))
        elif pa.types.is_list(data.type):
            span = (f"{pc.min(pc.list_value_length(data)).as_py()}-element lists",)
        else:
            span = (f"{len(pc.unique(data))} distinct",)
        out[col.path] = (col.physical_type, str(col.logical_type), span)
    return out


def compare_tables(testdata: str, star_dir: str) -> None:
    for name in sorted(os.listdir(star_dir)):
        a, b = os.path.join(testdata, name), os.path.join(star_dir, name)
        print(f"{name}: rows {pq.ParquetFile(a).metadata.num_rows} (test data), "
              f"{pq.ParquetFile(b).metadata.num_rows} (star)")
        want, got = _columns(a), _columns(b)
        for col in sorted(set(want) | set(got)):
            w, g = want.get(col), got.get(col)
            same = "same type" if w and g and w[:2] == g[:2] else "TYPE DIFFERS"
            print(f"  {col}: {same} {w[:2] if w else None}; "
                  f"{w[2] if w else None} vs {g[2] if g else None}")


def compare_queries(spark, testdata: str, star_dir: str) -> None:
    from aircraftutilization_etl_spark.plans import CATALOG

    print("query | rows test data | rows star | wall test data s | wall star s")
    dirs = (testdata, star_dir)
    for name in workloads.CATALOG_MIX:
        rows = [CATALOG[name].spark(spark, d).count() for d in dirs]  # warm-up
        walls: list[list[float]] = [[], []]
        for _ in range(3):  # alternate sides, so neither gains from running later
            for side, d in enumerate(dirs):
                walls[side].append(workloads._run_query(spark, d, name)[0])  # noqa: SLF001
        line = [name] + [str(r) for r in rows]
        line += [f"{statistics.median(w):.3f}" for w in walls]
        print(" | ".join(line), flush=True)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--testdata", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, run.ROOT)
    bench = run.Bench(argparse.Namespace(
        workload="compare_star", seed=args.seed, seconds=0, trace=0))
    star_dir = bench.dir("star")
    try:
        star.write(args.seed, args.sf, star_dir)
        compare_tables(args.testdata, star_dir)
        compare_queries(bench.session(), args.testdata, star_dir)
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(bench.work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
