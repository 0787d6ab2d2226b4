#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
on DuckDB over the same parquet tables, then compares row count, sorted
column names, and an order-insensitive value hash (values canonicalized:
floats via repr of rounded value, timestamps via ISO string). Each query
is built and collected inside one cache scope; a query that leaves an
entry in the cache manager after its scope exits fails too.

Usage: python tools/check_oracles.py [--sf DIR] [--only name1,name2] [-v]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datetime as dt
import decimal

import duckdb

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        return repr(round(v, 9))
    if isinstance(v, decimal.Decimal):
        # Exact scaled string — NO float roundtrip. A float roundtrip
        # (repr(round(float(v), 9))) collapses last-digit differences at
        # 10-digit-plus-8-decimal magnitudes, under-reporting exactly the
        # class of mismatch the driver's hasher can see (VERDICT r4 §wrong).
        return format(v, "f")
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


# Output-EDGE types the driver's hasher is known to canonicalize
# differently from a Python-native fetch — or to crash on outright:
# DuckDB SUM(BIGINT) silently widens to HUGEINT (int128) and the driver
# float-izes it (r6's only red row, q_mix_manifest.n_tokens); Decimals
# did the same in r4; LIST/ARRAY/MAP/STRUCT output columns crash the
# driver's pandas sort_values canonicalizer ("unhashable type: list" —
# r7's only red row, q_text_inverted_index.postings). Interior CTEs may
# use anything — only the final projection is gated. Scalarize with
# array_to_string / array_join / string_agg before the output edge.
BANNED_EDGE_TYPES = (
    "HUGEINT", "UHUGEINT", "DECIMAL",
    "LIST", "ARRAY", "MAP", "STRUCT", "UNION",
)

# Spark-side twin of the banned DuckDB output-edge types (substring
# match against DataType.simpleString()).
SPARK_BANNED_EDGE_TYPES = ("decimal", "array", "map", "struct")


def oracle_edge_type_problems(columns, types):
    """Columns of a DuckDB result whose type the driver's hasher would
    canonicalize lossily or crash on. ``types`` is ``rel.types``
    (binding only — the query is planned, not executed). Substring
    match so nested types (LIST(DECIMAL), STRUCT(... HUGEINT ...)) are
    caught at any depth."""
    import re

    out = []
    for col, typ in zip(columns, types):
        ts = str(typ).upper()
        # DuckDB stringifies list types as 'VARCHAR[]' (not 'LIST(...)')
        # and fixed-size arrays as 'FLOAT[3]' — match any bracket
        # suffix, empty or numbered (code-review r8)
        if re.search(r"\[\d*\]", ts) or any(b in ts for b in BANNED_EDGE_TYPES):
            out.append(f"{col}:{ts}")
    return out


def spark_edge_type_problems(schema):
    """Spark-side twin: DecimalType or any container type
    (array/map/struct) anywhere in a result field — the same
    driver-hasher float-ization / unhashable-list hazard."""
    return [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if any(b in f.dataType.simpleString() for b in SPARK_BANNED_EDGE_TYPES)
    ]


def table_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8"))
        h.update(b"\x02")
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--only", default=None)
    ap.add_argument(
        "--skip",
        default=None,
        help="comma-separated query names to exclude (e.g. the nine "
        "O(n²)-oracle embedding queries at full sf1, probed separately "
        "via tools/make_emb_probe.py)",
    )
    ap.add_argument("-v", "--verbose", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod
    from aircraftutilization_etl_spark.operators.distribute import cache_scope

    # SPARK_GRAFT_SHUFFLE_PARTITIONS / SPARK_GRAFT_MAX_PARTITION_BYTES
    # let the odd-partitioning robustness sweep (local[5], 13 shuffle
    # partitions, 1 MB scan splits) run without editing this file —
    # hashed outputs must not depend on parallelism or split layout.
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("check-oracles")
        .config(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8"),
        )
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    cached = spark._jsparkSession.sharedState().cacheManager()  # noqa: SLF001

    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single parquet files; Spark-written stars
        # (tools/upscale_testdata.py) are part-file directories
        path = f"{args.sf}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(args.only.split(",")) if args.only else None
    skip = set(args.skip.split(",")) if args.skip else set()

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in skip:
            print(f"SKIP {name} (--skip)")
            continue
        t0 = time.time()
        spark.catalog.clearCache()
        try:
            with cache_scope():
                sdf = fn(spark, args.sf)
                scols = sdf.columns
                sedge = spark_edge_type_problems(sdf.schema)
                srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if not cached.isEmpty():
            print(f"FAIL {name}: cache left after its scope")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ROWS-ONLY {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_rows_only += 1
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = [d[0] for d in rel.description]
            oedge = oracle_edge_type_problems(rel.columns, rel.types)
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue
        problems = []
        if sedge:
            problems.append(f"spark Decimal at output edge: {sedge}")
        if oedge:
            problems.append(f"oracle exotic numeric at output edge: {oedge}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns {sorted(scols)} != {sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount {len(srows)} != {len(orows)}")
        if not problems:
            hs, ho = table_hash(scols, srows), table_hash(ocols, orows)
            if hs != ho:
                problems.append("value hash mismatch")
                if args.verbose:
                    order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                    order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                    ls = sorted("|".join(canon(r[i]) for i in order_s) for r in srows)
                    lo = sorted("|".join(canon(r[i]) for i in order_o) for r in orows)
                    for a, b in zip(ls, lo):
                        if a != b:
                            print(f"  spark : {a}\n  duckdb: {b}")
                            break
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} ({time.time()-t0:.1f}s)")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAILED")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
