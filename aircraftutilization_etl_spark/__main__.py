"""CLI — the reference's Airflow task surface as engine subcommands.

The reference exposes its lifecycle as Airflow DAG tasks and one-off
command scripts (SURVEY.md §3, S7); here each becomes a subcommand an
orchestrator (Airflow, cron, anything) can schedule directly:

    python -m aircraftutilization_etl_spark metadata   --csv ... --root ...
    python -m aircraftutilization_etl_spark active     --payload ... --root ...
    python -m aircraftutilization_etl_spark complete   --root ...
    python -m aircraftutilization_etl_spark retention  --root ...
    python -m aircraftutilization_etl_spark migrate-metadata --facts ... --out ...
    python -m aircraftutilization_etl_spark migrate-built    --facts ... --out ...

Retries/cadence stay with the orchestrator (reference E4); every
subcommand is an idempotent task body.
"""

from __future__ import annotations

import argparse
import json
import sys

from .commands import run_add_metadata_migration, run_built_string_migration
from .pipeline import FlightPipeline
from .session import build_session
from .sources.sinks import retention_purge


def _pipeline(spark, args) -> FlightPipeline:
    return FlightPipeline(
        spark,
        state_root=f"{args.root}/state",
        facts_path=f"{args.root}/facts",
        metadata_path=f"{args.root}/metadata",
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="aircraftutilization_etl_spark")
    ap.add_argument("--master", default=None, help="Spark master override")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("metadata", help="EP3: refresh the aircraft dimension")
    p.add_argument("--csv", required=True, help="aircraft database CSV path")
    p.add_argument("--root", required=True, help="engine data root")

    p = sub.add_parser("active", help="EP1: merge a states payload into session state")
    p.add_argument("--payload", required=True, help="states/all JSON file")
    p.add_argument("--root", required=True)
    p.add_argument("--now-epoch", type=int, default=None)

    p = sub.add_parser("complete", help="EP2: emit completed flights, roll state")
    p.add_argument("--root", required=True)

    p = sub.add_parser("retention", help="S6 TTL: purge expired fact partitions")
    p.add_argument("--root", required=True)
    p.add_argument("--days", type=int, default=365)

    p = sub.add_parser("migrate-metadata", help="S7: re-enrich facts with metadata")
    p.add_argument("--facts", required=True)
    p.add_argument("--metadata", required=True)
    p.add_argument("--out", required=True)

    p = sub.add_parser("migrate-built", help="S7: parse built strings to timestamps")
    p.add_argument("--facts", required=True)
    p.add_argument("--out", required=True)

    p = sub.add_parser(
        "query", help="run a catalog query against a table directory"
    )
    p.add_argument("name", help="catalog query name (see list-queries)")
    p.add_argument(
        "--data", required=True, help="directory holding <table>.parquet files"
    )
    p.add_argument(
        "--out", default=None, help="write result parquet here (default: show)"
    )
    p.add_argument("--limit", type=int, default=20, help="rows to show")

    sub.add_parser("list-queries", help="list every catalog query")

    args = ap.parse_args(argv)

    if args.cmd == "list-queries":  # metadata-only: no Spark session
        from .plans import CATALOG

        for name, qd in sorted(CATALOG.items()):
            doc = (qd.doc or "").strip().splitlines()
            print(f"{name}\t{doc[0] if doc else ''}")
        return 0

    from pyspark.sql import SparkSession

    # only stop a session this invocation created (getOrCreate may hand
    # back a caller's live session — e.g. under tests or a notebook)
    owns_session = SparkSession.getActiveSession() is None
    spark = build_session(master=args.master)
    try:
        if args.cmd == "metadata":
            _pipeline(spark, args).run_metadata_etl(args.csv)
        elif args.cmd == "active":
            with open(args.payload, encoding="utf-8") as f:
                payload = json.load(f)
            _pipeline(spark, args).run_active_flights(
                payload, now_epoch=args.now_epoch
            )
        elif args.cmd == "complete":
            _pipeline(spark, args).run_complete_flights()
        elif args.cmd == "retention":
            dropped = retention_purge(
                spark, f"{args.root}/facts", retention_days=args.days
            )
            print(json.dumps({"dropped_partitions": dropped}))
        elif args.cmd == "migrate-metadata":
            n = run_add_metadata_migration(
                spark, args.facts, args.metadata, args.out
            )
            print(json.dumps({"migrated_rows": n}))
        elif args.cmd == "migrate-built":
            n = run_built_string_migration(spark, args.facts, args.out)
            print(json.dumps({"migrated_rows": n}))
        elif args.cmd == "query":
            from .operators.distribute import cache_scope
            from .plans import CATALOG

            if args.name not in CATALOG:
                print(
                    f"unknown query {args.name!r}; run list-queries",
                    file=sys.stderr,
                )
                return 2
            with cache_scope():
                df = CATALOG[args.name].spark(spark, args.data)
                if args.out:
                    df.write.mode("overwrite").parquet(args.out)
                    print(json.dumps({"query": args.name, "out": args.out}))
                else:
                    df.show(args.limit, truncate=False)
    finally:
        if owns_session:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
