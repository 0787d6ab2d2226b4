"""Physical-plan diagnostics — the engine's pre-flight checks.

The 100 TB discipline this repo tests for (no row-at-a-time Python,
shuffles only where the algebra needs them, column pruning reaching the
scan) is useful to USERS of the engine too, before they ship a pipeline
to a 1000-executor cluster. These helpers read the executed plan and
answer the questions that decide whether a plan scales:

- ``python_nodes``     — does anything leave the JVM, and how?
- ``scan_schemas``     — did column pruning reach each parquet scan?

``assert_scalable`` is the guard an orchestrated job can run at deploy
time (fail fast on row-at-a-time Python, the same contract
tests/test_plan_invariants.py pins for the catalog).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Arrow-batched Python operators — the sanctioned escape hatch.
ARROW_NODES = ("MapInPandas", "FlatMapGroupsInPandas")
# Row-at-a-time Python — the 10-100x-slower path; never acceptable.
ROW_PYTHON_NODES = ("BatchEvalPython",)


def executed_plan(df: DataFrame) -> str:
    """The executed (physical) plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def python_nodes(df: DataFrame) -> dict[str, list[str]]:
    """Python evaluation nodes in the plan, split by lane:
    {"arrow": [...], "row": [...]} — an empty dict means pure JVM."""
    plan = executed_plan(df)
    out: dict[str, list[str]] = {}
    arrow = [n for n in ARROW_NODES if n in plan]
    row = [n for n in ROW_PYTHON_NODES if n in plan]
    if arrow:
        out["arrow"] = arrow
    if row:
        out["row"] = row
    return out


def scan_schemas(df: DataFrame) -> list[str]:
    """ReadSchema of every file scan in the plan — eyeball (or assert)
    that a projection's scan reads only the columns it needs."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return re.findall(r"ReadSchema: (struct<[^\n]*)", buf.getvalue())


def assert_scalable(df: DataFrame) -> None:
    """Deploy-time guard: raise AssertionError when the plan contains
    row-at-a-time Python (Arrow-batched lanes are allowed)."""
    nodes = python_nodes(df)
    if "row" in nodes:
        raise AssertionError(
            f"plan contains row-at-a-time Python ({nodes['row']}) — "
            "rewrite with built-in expressions or an Arrow-batched kernel"
        )


def advise(df: DataFrame) -> list[str]:
    """Pre-flight plan review: the scale smells a human reviewer greps
    an explain() for, as machine-checkable findings (empty list = no
    smells). Each finding names the hazard and the standard fix; run it
    before shipping a pipeline to a real cluster, or wire it into CI
    next to assert_scalable (which ENFORCES; this one EXPLAINS).
    """
    plan = executed_plan(df)
    findings: list[str] = []
    if "Exchange SinglePartition" in plan:
        findings.append(
            "single-partition exchange: a global window/sort/limit is "
            "funneling every row through one task — partition the window, "
            "or use the two-phase running-count formulation "
            "(operators/sampling.global_running_sum)"
        )
    if "CartesianProduct" in plan:
        findings.append(
            "cartesian product: no join condition reached the planner — "
            "add the equi-key, or broadcast the small side if the cross "
            "product is intentional"
        )
    if "BroadcastNestedLoopJoin" in plan:
        findings.append(
            "broadcast nested-loop join: the join has no equality "
            "conjunct, so every probe row scans the whole build side — "
            "add an equi-key (bucketize ranges; see "
            "operators/events.range_join_bucketed)"
        )
    nodes = python_nodes(df)
    if "row" in nodes:
        findings.append(
            "row-at-a-time Python (BatchEvalPython): 10-100x slower than "
            "built-in expressions — rewrite with pyspark.sql.functions or "
            "an Arrow-batched mapInPandas kernel"
        )
    wide = [s for s in scan_schemas(df) if s.count(",") + 1 > 20]
    if wide:
        findings.append(
            f"{len(wide)} file scan(s) read >20 columns — if the query "
            "uses fewer, column pruning was defeated (check for "
            "select('*') before a UDF or a schema-hiding view)"
        )
    return findings
