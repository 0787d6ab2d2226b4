"""Source guards against dead code in the package.

Orphans: every public top-level function or class in the package is
reached from outside the test suite. A name counts as reached when
some module of the package, `tools/`, the non-test `perfbench/` files,
`bench.py` or `__spark_entry__.py` mentions it as a `Name`, an
`Attribute` or an imported alias (a definition's mentions of its own
name do not count), or when it is a catalog query registered through
`@query`. Code that only tests call guards nothing the system runs:
delete it with its tests, or reach it.

Options: every defaulted parameter of a public top-level package
function is passed by some call in the package, `tools/`, `perfbench/`,
`bench.py`, `__spark_entry__.py` or `tests/`. A call passes a parameter
when it names it as a keyword, or gives it a position at a direct call
by the function's name. Where the callee cannot be named (a function
held in a variable, `functools.partial`, a method of the same name
elsewhere), any keyword of that call, and any string key of a dict
literal, counts for every parameter of that name. An option that only
ever takes its default is a constant: inline it.

Imports: no module of the package (``__init__.py`` re-exports aside)
imports a name it never uses, at module level or inside a function.
``from __future__`` imports and lines marked ``# noqa: F401`` are
exempt.
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


def _call_site_files():
    yield from _reference_files()
    yield from (ROOT / "perfbench").rglob("test_*.py")
    yield from (ROOT / "tests").rglob("*.py")


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


# "module.function.parameter" -> why the option stays with no caller
# that sets it.
OPTION_ALLOWLIST: dict[str, str] = {}


def _options(fn):
    """Names of ``fn``'s parameters that carry a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    named = positional[len(positional) - len(a.defaults):]
    named += [p for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return [p.arg for p in named]


def _passed_parameters(functions):
    """(function name, parameter) pairs that some call passes, and the
    parameter names passed where the callee is unknown."""
    by_name = {}
    for fn in functions:
        by_name.setdefault(fn.name, []).append(fn)
    passed, anywhere = set(), set()
    for path in _call_site_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Dict):
                anywhere.update(
                    k.value
                    for k in node.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)
                )
            if not isinstance(node, ast.Call):
                continue
            callee = getattr(node.func, "id", getattr(node.func, "attr", None))
            if callee not in by_name:
                anywhere.update(k.arg for k in node.keywords if k.arg)
                continue
            for fn in by_name[callee]:
                a = fn.args
                positional = [p.arg for p in a.posonlyargs + a.args]
                params = positional + [p.arg for p in a.kwonlyargs]
                for i, arg in enumerate(node.args):
                    if isinstance(arg, ast.Starred):
                        passed.update((fn.name, p) for p in positional[i:])
                        break
                    if i < len(positional):
                        passed.add((fn.name, positional[i]))
                for kw in node.keywords:
                    if kw.arg is None:  # **mapping: any parameter
                        passed.update((fn.name, p) for p in params)
                        continue
                    passed.add((fn.name, kw.arg))
                    if a.kwarg:  # may be forwarded to any callee
                        anywhere.add(kw.arg)
    return passed, anywhere


def _public_functions():
    return [
        (module, node)
        for module, _, node in _public_definitions()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def unset_options():
    functions = _public_functions()
    passed, anywhere = _passed_parameters([fn for _, fn in functions])
    return sorted(
        f"{module}.{fn.name}.{p}"
        for module, fn in functions
        for p in _options(fn)
        if (fn.name, p) not in passed
        and p not in anywhere
        and f"{module}.{fn.name}.{p}" not in OPTION_ALLOWLIST
    )


def test_every_option_is_set():
    found = unset_options()
    assert not found, (
        "defaulted parameters that no call passes (inline the default "
        "and delete the parameter):\n  " + "\n  ".join(found)
    )


def test_option_allowlist_names_existing_options():
    defined = {
        f"{module}.{fn.name}.{p}"
        for module, fn in _public_functions()
        for p in _options(fn)
    }
    assert set(OPTION_ALLOWLIST) <= defined


def _unused_imports_in(path):
    text = path.read_text()
    lines = text.splitlines()
    tree = ast.parse(text)
    scopes = [tree] + [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    exported = {
        e.value
        for n in tree.body
        if isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "__all__" for t in n.targets)
        for e in ast.walk(n.value)
        if isinstance(e, ast.Constant)
    }
    for scope in scopes:
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        if scope is tree:
            used |= exported
        for imp in scope.body:
            if not isinstance(imp, (ast.Import, ast.ImportFrom)):
                continue
            if getattr(imp, "module", None) == "__future__" or any(
                "noqa: F401" in line
                for line in lines[imp.lineno - 1 : imp.end_lineno]
            ):
                continue
            for alias in imp.names:
                name = (alias.asname or alias.name).split(".")[0]
                if name not in used:
                    yield f"{imp.lineno} {name}"


def test_no_unused_imports():
    found = [
        f"{path.relative_to(ROOT)}:{hit}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path.name != "__init__.py"
        for hit in _unused_imports_in(path)
    ]
    assert not found, "imports nothing uses:\n  " + "\n  ".join(found)
