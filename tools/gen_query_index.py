#!/usr/bin/env python
"""Generate QUERIES.md — one line per catalog query: name, oracle kind,
first docstring sentence. Run after adding queries."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def render() -> str:
    """The full text of QUERIES.md for the live catalog."""
    from aircraftutilization_etl_spark.plans import CATALOG

    lines = [
        "# QUERIES — the catalog at a glance",
        "",
        "Generated by `python tools/gen_query_index.py`; one row per",
        "`__spark_entry__.queries()` entry. Oracle `hash` = DuckDB",
        "value-hash match required; `rows` = rows-only driver check",
        "(sketch/learned outputs with no cross-engine value oracle).",
        "",
        "| Query | Oracle | What it computes |",
        "|---|---|---|",
    ]
    for name in sorted(CATALOG):
        qd = CATALOG[name]
        doc = (qd.doc or "").strip().split("\n\n")[0].replace("\n", " ")
        doc = " ".join(doc.split())
        if len(doc) > 160:
            doc = doc[:157] + "..."
        kind = "hash" if qd.oracle else "rows"
        lines.append(f"| `{name}` | {kind} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    from aircraftutilization_etl_spark.plans import CATALOG

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "QUERIES.md",
    )
    with open(out, "w", encoding="utf-8") as f:
        f.write(render())
    print(f"{out}: {len(CATALOG)} queries")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
