"""Every public top-level function or class in the package is reached
from outside the test suite.

A name counts as reached when some module of the package, `tools/`,
the non-test `perfbench/` files, `bench.py` or `__spark_entry__.py`
mentions it as a `Name`, an `Attribute` or an imported alias (a
definition's mentions of its own name do not count), or when it is a
catalog query registered through `@query`. Code that only tests call
guards nothing the system runs: delete it with its tests, or reach it.
"""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "aircraftutilization_etl_spark"

# "module.name" -> why it stays without a non-test caller.
ALLOWLIST = {
    "diagnostics.advise": "plan advisor that the runtime sweep is built beside",
    "diagnostics.assert_scalable": "the advisor's gate, kept with advise",
    "orchestration.build_dags": "reference DAG lifecycle factory for Airflow",
}


def _reference_files():
    yield from PACKAGE.rglob("*.py")
    yield from (ROOT / "tools").rglob("*.py")
    yield from (
        p
        for p in (ROOT / "perfbench").rglob("*.py")
        if not p.name.startswith("test_")
    )
    yield ROOT / "bench.py"
    yield ROOT / "__spark_entry__.py"


def _mentions(node):
    """Names mentioned under ``node``: Name ids, Attribute attrs and
    imported names/aliases."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id
        elif isinstance(sub, ast.Attribute):
            yield sub.attr
        elif isinstance(sub, ast.alias):
            yield sub.name.rsplit(".", 1)[-1]
            if sub.asname:
                yield sub.asname


def _is_query_registered(node):
    return any(
        isinstance(d, ast.Call)
        and getattr(d.func, "id", getattr(d.func, "attr", None)) == "query"
        for d in getattr(node, "decorator_list", ())
    )


def _public_definitions():
    """(module, name, node) for every public top-level def/class."""
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                yield module, node.name, node


def _referenced_names():
    """Every name mentioned outside its own top-level definition."""
    names = set()
    for path in _reference_files():
        for node in ast.parse(path.read_text()).body:
            own = getattr(node, "name", None)
            names.update(m for m in _mentions(node) if m != own)
    return names


def orphans():
    referenced = _referenced_names()
    return sorted(
        f"{module}.{name}"
        for module, name, node in _public_definitions()
        if name not in referenced
        and not _is_query_registered(node)
        and f"{module}.{name}" not in ALLOWLIST
    )


def test_no_public_definition_is_reached_only_by_tests():
    found = orphans()
    assert not found, (
        "public definitions that nothing outside tests/ references "
        "(delete them with their tests, or call them):\n  "
        + "\n  ".join(found)
    )


def test_allowlist_names_existing_definitions():
    defined = {f"{m}.{n}" for m, n, _ in _public_definitions()}
    assert set(ALLOWLIST) <= defined
