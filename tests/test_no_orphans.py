"""Source guards against dead code in the package.

Orphans: every public top-level function, class or UPPER_CASE constant
in the package is reached from outside the test suite. A name counts as
reached when some module of the package, `tools/`, the non-test `perfbench/` files,
`bench.py` or `__spark_entry__.py` mentions it as a `Name`, an
`Attribute` or an imported alias (a definition's mentions of its own
name do not count), or when it is a catalog query registered through
`@query`. Code that only tests call guards nothing the system runs:
delete it with its tests, or reach it.

Options: every defaulted parameter of a public top-level package
function is set by some call outside the test suite, in the same files
that reach orphans. A configuration that only a test runs is one the
system never runs, so a test call sets nothing. An option that tests
must still reach is a named seam in `OPTION_ALLOWLIST`, with the reason
it stays: it reaches a branch that runs at scale, it injects a clock or
a trigger a test cannot control otherwise, or it is a deployment
setting. A call sets a parameter when it names it as a keyword, or
gives it a position at a direct call by the function's name, with an
expression other than the parameter's own default (the same literal or
the same constant name sets nothing). A function escapes when something
outside the tests references it other than as the callee of a call (a
list of legs, an argument, a decorator's target). Only an escaping
function can be called where the callee cannot be named, so only its
parameters also count as set by any keyword of an unresolved call, or
any string key of a dict literal, of that name. An option that only
ever takes its default is a constant: inline it.

Private parameters: a private top-level package function that never
escapes has no parameter that every call outside the tests fills with
the same literal or the same UPPER_CASE module constant. Such a
parameter is a constant: inline it.

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
    "schemas.COMPLETE_FLIGHTS_SCHEMA": "the facts sink's row shape, which "
    "the sink tests build their batches in",
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


def _defined_names(node):
    """Names a top-level statement defines: a def/class name, or the
    ``Name`` targets of an assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {node.name}
    if isinstance(node, (ast.Assign, ast.AnnAssign)):
        targets = node.targets if isinstance(node, ast.Assign) else [node.target]
        return {
            n.id
            for t in targets
            for n in ast.walk(t)
            if isinstance(n, ast.Name)
        }
    return set()


def _public_definitions():
    """(module, name, node) for every public top-level def/class and
    UPPER_CASE constant."""
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            for name in sorted(_defined_names(node)):
                if name.startswith("_"):
                    continue
                if name.isupper() or not isinstance(
                    node, (ast.Assign, ast.AnnAssign)
                ):
                    yield module, name, node


def _referenced_names():
    """Every name mentioned outside its own top-level definition."""
    names = set()
    for path in _reference_files():
        for node in ast.parse(path.read_text()).body:
            own = _defined_names(node)
            names.update(m for m in _mentions(node) if m not in own)
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
        "public definitions and constants that nothing outside tests/ "
        "references "
        "(delete them with their tests, or call them):\n  "
        + "\n  ".join(found)
    )


def test_allowlist_names_existing_definitions():
    defined = {f"{m}.{n}" for m, n, _ in _public_definitions()}
    assert set(ALLOWLIST) <= defined


# "module.function.parameter" -> why the option stays when only tests
# set it: a test seam.
OPTION_ALLOWLIST = {
    "operators.dedup.edit_distance_pairs.max_gram_df": "a fixed gram-"
    "frequency cap forces every true pair through the unsafe-bucket "
    "pass that gram-poor corpora take at scale",
    "operators.similarity.cosine_pairs.block_rows": "small blocks reach "
    "the multi-block grid that every corpus above one block runs",
    "operators.sampling.global_running_sum.n_partitions": "a range "
    "count other than the core count checks that the sum does not "
    "depend on where the range boundaries fall",
    "operators.geo.proximity_pairs.max_candidates_per_cell": "a deployment "
    "setting: the dense-airspace cap that bounds each cell's quadratic "
    "pair output",
    "sources.sinks.retention_purge.now": "the clock; defaults to the "
    "wall clock",
    "streaming.flight_stream.run_flight_stream.available_now": "the "
    "trigger; a test drains the source once instead of polling",
    "streaming.flight_stream.run_flight_stream.lateness": "the watermark "
    "delay, a deployment setting",
}


def _options(fn):
    """``fn``'s defaulted parameters, as name -> default expression."""
    a = fn.args
    positional = a.posonlyargs + a.args
    named = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
    named += [(p, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return {p.arg: d for p, d in named}


def _parameters(fn):
    a = fn.args
    return [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]


def _callee(call):
    """The name a call names its callee by: ``f(..)`` or ``m.f(..)``."""
    return getattr(call.func, "id", getattr(call.func, "attr", None))


def _parse_call_sites():
    return [ast.parse(path.read_text()) for path in _reference_files()]


def _escaping_names(trees):
    """Names referenced other than as the callee of a call: a function
    with such a name can be called through a variable."""
    callees = {
        id(node.func)
        for tree in trees
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
    }
    escaping = set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.decorator_list:
                    escaping.add(node.name)
            elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                if id(node) not in callees:
                    escaping.add(node.id)
            elif isinstance(node, ast.Attribute) and id(node) not in callees:
                escaping.add(node.attr)
    return escaping


def _bound_arguments(fn, call):
    """parameter -> argument expression for one direct call of ``fn``,
    or None when a ``*args``/``**kwargs`` argument hides the binding."""
    a = fn.args
    positional = [p.arg for p in a.posonlyargs + a.args]
    bound = {}
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            return None
        if i < len(positional):
            bound[positional[i]] = arg
    for kw in call.keywords:
        if kw.arg is None:
            return None
        bound[kw.arg] = kw.value
    return bound


def _calls_by_name(trees, names):
    """callee name -> every call that names it."""
    calls = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node) in names:
                calls.setdefault(_callee(node), []).append(node)
    return calls


def _set_parameters(functions, trees):
    """(function name, parameter) pairs that some call sets to something
    other than the parameter's default, and the parameter names any
    unresolved call or dict literal may set."""
    by_name = {}
    for fn in functions:
        by_name.setdefault(fn.name, []).append(fn)
    calls = _calls_by_name(trees, set(by_name))
    passed, anywhere = set(), set()
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Dict):
                anywhere.update(
                    k.value
                    for k in node.keys
                    if isinstance(k, ast.Constant) and isinstance(k.value, str)
                )
            elif isinstance(node, ast.Call) and _callee(node) not in by_name:
                anywhere.update(k.arg for k in node.keywords if k.arg)
    for name, fns in by_name.items():
        for fn in fns:
            defaults = _options(fn)
            for call in calls.get(name, ()):
                bound = _bound_arguments(fn, call)
                if bound is None:  # *args/**mapping: any parameter
                    passed.update((name, p) for p in _parameters(fn))
                    continue
                for p, arg in bound.items():
                    default = defaults.get(p)
                    if default is None or ast.dump(arg) != ast.dump(default):
                        passed.add((name, p))
                if fn.args.kwarg:  # may be forwarded to any callee
                    anywhere.update(k.arg for k in call.keywords if k.arg)
    return passed, anywhere


def _top_level_functions():
    for path in sorted(PACKAGE.rglob("*.py")):
        module = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield module, node


def _public_functions():
    return [
        (module, node)
        for module, node in _top_level_functions()
        if not node.name.startswith("_")
    ]


def unset_options():
    functions = _public_functions()
    trees = _parse_call_sites()
    passed, anywhere = _set_parameters([fn for _, fn in functions], trees)
    escaping = _escaping_names(trees)
    return sorted(
        f"{module}.{fn.name}.{p}"
        for module, fn in functions
        for p in _options(fn)
        if (fn.name, p) not in passed
        and not (fn.name in escaping and p in anywhere)
        and f"{module}.{fn.name}.{p}" not in OPTION_ALLOWLIST
    )


def test_every_option_is_set():
    found = unset_options()
    assert not found, (
        "defaulted parameters that no call sets to another value (inline "
        "the default and delete the parameter):\n  " + "\n  ".join(found)
    )


def test_option_allowlist_names_existing_options():
    defined = {
        f"{module}.{fn.name}.{p}"
        for module, fn in _public_functions()
        for p in _options(fn)
    }
    assert set(OPTION_ALLOWLIST) <= defined


def _is_constant(expr):
    """A literal, or an UPPER_CASE module constant (``X`` or ``m.X``)."""
    if isinstance(expr, ast.Name):
        return expr.id.isupper()
    if isinstance(expr, ast.Attribute):
        return expr.attr.isupper() and isinstance(expr.value, ast.Name)
    try:
        ast.literal_eval(expr)
    except ValueError:
        return False
    return True


def constant_private_parameters():
    trees = _parse_call_sites()
    escaping = _escaping_names(trees)
    private = [
        (module, node)
        for module, node in _top_level_functions()
        if node.name.startswith("_") and node.name not in escaping
    ]
    calls = _calls_by_name(trees, {fn.name for _, fn in private})
    found = []
    for module, fn in private:
        defaults = _options(fn)
        bindings = [_bound_arguments(fn, c) for c in calls.get(fn.name, ())]
        if not bindings or None in bindings:
            continue
        for p in _parameters(fn):
            args = [b.get(p, defaults.get(p)) for b in bindings]
            if all(a is not None and _is_constant(a) for a in args) and (
                len({ast.dump(a) for a in args}) == 1
            ):
                found.append(f"{module}.{fn.name}.{p}")
    return sorted(found)


def test_no_private_parameter_is_constant():
    found = constant_private_parameters()
    assert not found, (
        "private-helper parameters that every call fills with one "
        "constant (inline it and drop the argument):\n  "
        + "\n  ".join(found)
    )


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
