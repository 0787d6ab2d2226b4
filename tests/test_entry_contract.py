"""Driver-contract invariants for ``__spark_entry__``.

The driver checks a bounded prefix of ``queries()`` per round, so the
iteration order is part of the verification strategy: stale (changed or
latest-row-non-green) queries first, never-driver-checked next,
already-verified last (see ``__spark_entry__._catalog_order``). These
tests pin that contract without running Spark.
"""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from aircraftutilization_etl_spark.plans import CATALOG  # noqa: E402


@pytest.fixture(autouse=True)
def _fresh_order_cache(monkeypatch):
    """The order is cached per process for within-run stability; tests
    that monkeypatch the inputs need a cold cache each time."""
    monkeypatch.setattr(entry_mod, "_ORDER_CACHE", None)
    yield
    entry_mod._ORDER_CACHE = None


def _driver_seen() -> set[str]:
    seen: set[str] = set()
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(path, encoding="utf-8") as fh:
            seen.update(json.load(fh))
    return seen


def _tiers(order):
    latest = entry_mod._latest_rows()
    stale, never, rest = [], [], []
    for n in order:
        if n not in latest:
            never.append(n)
        elif entry_mod._green_at_level(n, latest[n][1]) and entry_mod._hash_current_at(
            n, latest[n][0]
        ):
            rest.append(n)
        else:
            stale.append(n)
    return stale, never, rest


def test_queries_and_oracles_share_names_and_order():
    q = list(entry_mod.queries())
    o = list(entry_mod.oracle_sql())
    assert set(o) <= set(q)
    # oracle_sql preserves queries() relative order (driver zips by name,
    # but keeping the orders aligned makes the files diffable)
    pos = {n: i for i, n in enumerate(q)}
    assert o == sorted(o, key=pos.__getitem__)


def test_catalog_order_is_a_permutation_of_the_catalog():
    q = list(entry_mod.queries())
    assert len(q) == len(set(q))
    assert set(q) == set(entry_mod._catalog_order())


def test_order_is_stale_then_never_then_verified():
    """Tier order: stale (red, then plan-edited, then dep-only floats —
    each alphabetical, r8 sub-priority), never-checked, verified."""
    order = entry_mod._catalog_order()
    latest = entry_mod._latest_rows()
    if not latest:
        assert order == sorted(order)
        return
    stale, never, rest = _tiers(order)
    assert order == stale + never + rest
    assert never == sorted(never)
    assert rest == sorted(rest)
    red = [
        n for n in stale
        if not entry_mod._green_at_level(n, latest[n][1])
    ]
    edited = [
        n for n in stale
        if n not in red
        and not entry_mod._plan_hash_current_at(n, latest[n][0])
    ]
    dep = [n for n in stale if n not in red and n not in edited]
    assert stale == red + edited + dep
    assert red == sorted(red)
    assert edited == sorted(edited)
    assert dep == sorted(dep)


def test_latest_red_and_pre_oracle_rows_float_to_head():
    """The two r5 stale rows (VERDICT r5 §wrong #1): a red error row and
    a rows-only row for a query that has since gained an oracle must
    lead the order, ahead of never-checked queries."""
    latest = entry_mod._latest_rows()
    if not latest:
        pytest.skip("fresh checkout: no driver rows")
    order = entry_mod._catalog_order()
    stale, never, _ = _tiers(order)
    for name in ("q_events_asof_last_click", "q_media_feature_extract"):
        if name not in latest:
            continue  # retired: the driver re-confirmed and rows moved on
        rnd, row = latest[name]
        if not entry_mod._green_at_level(name, row):
            assert name in stale
            assert order.index(name) < len(stale)


def test_changed_oracle_floats_query(monkeypatch):
    """Mutating a query's oracle changes its content hash, so even a
    hash-green latest row stops vouching for it and it floats."""
    latest = entry_mod._latest_rows()
    greens = [
        n
        for n, (rnd, row) in sorted(latest.items())
        if entry_mod._green_at_level(n, row)
        and entry_mod._hash_current_at(n, rnd)
        and CATALOG[n].oracle
    ]
    if not greens:
        pytest.skip("no verified hash-green query to mutate")
    target = greens[0]
    mutated = dataclasses.replace(
        CATALOG[target], oracle=CATALOG[target].oracle + " -- edited"
    )
    monkeypatch.setitem(CATALOG, target, mutated)
    order = entry_mod._catalog_order()
    stale, _, rest = _tiers(order)
    assert target in stale
    assert target not in rest
    # floats ahead of the never-checked tier
    never_start = len(stale)
    assert order.index(target) < never_start


def test_green_row_with_matching_snapshot_hash_retires(monkeypatch):
    """A hash-green latest row whose round maps to a snapshot recording
    the current content hash lands in the verified tail — the float
    retires without any hand-maintained list."""
    names = sorted(CATALOG)
    target = names[0]
    row = {"hash_match": True, "err": None, "spark_rows": 1}
    monkeypatch.setattr(
        entry_mod, "_latest_rows", lambda: {n: (7, dict(row)) for n in names}
    )
    cur = entry_mod._content_hash(target)
    snaps = {7: {n: entry_mod._content_hash(n) for n in names}}
    monkeypatch.setattr(entry_mod, "_snapshot_hashes", lambda: snaps)
    order = entry_mod._catalog_order()
    assert order == names  # everything verified -> plain alphabetical

    # now pretend the snapshot recorded a different hash for target
    entry_mod._ORDER_CACHE = None
    snaps2 = {7: dict(snaps[7], **{target: "deadbeef" + cur[8:]})}
    monkeypatch.setattr(entry_mod, "_snapshot_hashes", lambda: snaps2)
    order = entry_mod._catalog_order()
    assert order[0] == target


def test_green_row_newer_than_any_snapshot_floats(monkeypatch):
    """A green row from a round later than every recorded snapshot can't
    be tied to the code the driver ran, so it floats (safe direction)."""
    names = sorted(CATALOG)
    target = names[0]
    monkeypatch.setattr(
        entry_mod,
        "_latest_rows",
        lambda: {target: (99, {"hash_match": True, "spark_rows": 1})},
    )
    monkeypatch.setattr(
        entry_mod,
        "_snapshot_hashes",
        lambda: {5: {n: entry_mod._content_hash(n) for n in names}},
    )
    order = entry_mod._catalog_order()
    assert order[0] == target


def test_later_snapshot_cannot_vouch_for_earlier_green_row(monkeypatch):
    """A snapshot from a LATER round records current code — if it could
    vouch for an older green row, a query edited after its green row
    would be silently tiered as verified (code-review r6). Only the
    row's exact round vouches."""
    names = sorted(CATALOG)
    target = names[0]
    monkeypatch.setattr(
        entry_mod,
        "_latest_rows",
        lambda: {target: (2, {"hash_match": True, "spark_rows": 1})},
    )
    # snapshot exists only for round 5 and matches the CURRENT hash
    monkeypatch.setattr(
        entry_mod,
        "_snapshot_hashes",
        lambda: {5: {n: entry_mod._content_hash(n) for n in names}},
    )
    assert entry_mod._catalog_order()[0] == target  # floats anyway


def test_missing_snapshot_file_trusts_green_rows(monkeypatch):
    """Without QUERY_HASHES.json (fresh checkout), the hash check is
    skipped — green rows are trusted rather than floating the catalog."""
    names = sorted(CATALOG)
    monkeypatch.setattr(entry_mod, "_snapshot_hashes", lambda: None)
    monkeypatch.setattr(
        entry_mod,
        "_latest_rows",
        lambda: {n: (5, {"hash_match": True, "spark_rows": 1}) for n in names},
    )
    assert entry_mod._catalog_order() == names


def test_rows_only_green_requires_no_current_oracle():
    """err == "no_oracle" with a rows count is green ONLY while the query
    still has no oracle; once an oracle exists the row is stale."""
    rows_only = {"hash_match": None, "err": "no_oracle", "spark_rows": 3}
    with_oracle = next(n for n in sorted(CATALOG) if CATALOG[n].oracle)
    no_oracle = [n for n in sorted(CATALOG) if not CATALOG[n].oracle]
    assert not entry_mod._green_at_level(with_oracle, rows_only)
    for n in no_oracle:
        assert entry_mod._green_at_level(n, rows_only)
    red = {"hash_match": False, "err": None, "spark_rows": 3}
    assert not entry_mod._green_at_level(with_oracle, red)


def test_latest_rows_skips_non_dict_payloads(tmp_path, monkeypatch):
    """ADVICE r5: a corrupt/foreign CORRECTNESS file (top-level list,
    non-dict rows) must be skipped, not crash the entry module."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps([1, 2]))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_a": {"hash_match": True}, "q_bad": "oops"})
    )
    (tmp_path / "CORRECTNESS_r03.json").write_text("{not json")
    monkeypatch.setattr(entry_mod, "_repo_dir", lambda: str(tmp_path))
    latest = entry_mod._latest_rows()
    assert latest == {"q_a": (2, {"hash_match": True})}


def _all_green_at(rnd):
    return {
        n: (rnd, {"hash_match": True, "err": None, "spark_rows": 1})
        for n in sorted(CATALOG)
    }


def _target_with_deps():
    """A query that actually delegates to an operators/ module."""
    for n in sorted(CATALOG):
        deps = entry_mod._plan_dep_modules(n)
        if any(".operators." in d for d in deps):
            return n, next(d for d in deps if ".operators." in d)
    pytest.skip("no query with operator deps")


def test_deep_snapshot_floats_on_operator_module_change(monkeypatch):
    """ADVICE r6 (medium): under a round-7+ dual snapshot, a change to a
    delegated operators/ module — plan source and oracle untouched —
    must float every query whose defining plans module reaches it, with
    no docstring-note convention."""
    target, dep = _target_with_deps()
    monkeypatch.setattr(entry_mod, "_latest_rows", lambda: _all_green_at(7))
    snaps = {
        7: {
            n: {
                "plan": entry_mod._content_hash(n),
                "deep": entry_mod._deep_hash(n),
            }
            for n in sorted(CATALOG)
        }
    }
    monkeypatch.setattr(entry_mod, "_snapshot_hashes", lambda: snaps)
    assert entry_mod._catalog_order() == sorted(CATALOG)  # all retire

    # simulate an edit to the delegated operator module
    entry_mod._ORDER_CACHE = None
    real_sha = entry_mod._module_file_sha

    def edited(mod):
        sha = real_sha(mod)
        return "0" * 64 if mod == dep else sha

    monkeypatch.setattr(entry_mod, "_module_file_sha", edited)
    order = entry_mod._catalog_order()
    floated, _, rest = _tiers(order)
    assert target in floated and target not in rest
    # and a query with no path to that module stays verified
    unaffected = [
        n
        for n in sorted(CATALOG)
        if dep not in entry_mod._plan_dep_modules(n)
    ]
    assert unaffected and all(n in rest for n in unaffected)


def test_legacy_string_snapshot_retires_against_plan_hash(monkeypatch):
    """Rounds 1-6 recorded bare plan-hash strings; green rows from those
    rounds must keep retiring against the legacy hash (an operator edit
    does NOT float them — the documented pre-r7 limitation the deep
    hash exists to close going forward)."""
    monkeypatch.setattr(entry_mod, "_latest_rows", lambda: _all_green_at(6))
    snaps = {6: {n: entry_mod._content_hash(n) for n in sorted(CATALOG)}}
    monkeypatch.setattr(entry_mod, "_snapshot_hashes", lambda: snaps)
    monkeypatch.setattr(entry_mod, "_module_file_sha", lambda mod: "0" * 64)
    assert entry_mod._catalog_order() == sorted(CATALOG)


def test_import_resolver_handles_all_package_shapes(tmp_path, monkeypatch):
    """code-review r7: the dep scanner must resolve (a) `from . import
    X` and `from . import X as Y` — the imported NAME is the submodule
    (the plans package __init__ pulls plans.similarity the plain way; a
    scratch package tree below covers the aliased form, which no real
    module uses), (b) relative imports inside a package __init__
    (relative to the package itself, not its parent), and (c) plain
    `import pkg.mod`; missing any of these silently narrows deep-hash
    coverage."""
    pkg = "aircraftutilization_etl_spark"
    deps = entry_mod._module_imports(f"{pkg}.plans")
    assert f"{pkg}.plans.similarity" in deps  # from . import similarity
    # streaming/__init__.py: from .flight_stream import ... must resolve
    # against the package itself
    deps = entry_mod._module_imports(f"{pkg}.streaming")
    assert f"{pkg}.streaming.flight_stream" in deps
    assert f"{pkg}.flight_stream" not in deps
    # and the recall query's identity must reach plans.similarity
    assert f"{pkg}.plans.similarity" in entry_mod._plan_dep_modules(
        "q_emb_ann_recall_report"
    )
    # (d) ADVICE r7: an aliased item must not truncate a comma list —
    # `import pkg.a as b, pkg.c` must yield BOTH pkg.a and pkg.c
    m = entry_mod._PLAIN_IMPORT_RE.search(
        f"import {pkg}.operators.text as t, {pkg}.operators.dedup\n"
    )
    assert m is not None
    items = [x.split(" as ", 1)[0].strip() for x in m.group(1).split(",")]
    assert items == [f"{pkg}.operators.text", f"{pkg}.operators.dedup"]
    # (a) aliased: `from . import similarity as _sim` must yield the
    # submodule, not the unresolvable name 'similarity as _sim'
    sub = tmp_path / pkg / "aliased"
    sub.mkdir(parents=True)
    (sub / "similarity.py").write_text("")
    (sub / "clustering.py").write_text(
        "from . import similarity as _sim  # noqa\n"
    )
    monkeypatch.setattr(entry_mod, "_repo_dir", lambda: str(tmp_path))
    monkeypatch.setattr(entry_mod, "_FILE_SHA_CACHE", {})
    deps = entry_mod._module_imports(f"{pkg}.aliased.clustering")
    assert f"{pkg}.aliased.similarity" in deps


def test_deep_hash_covers_plan_source_and_oracle_too(monkeypatch):
    """The deep hash strictly extends the legacy payload: an oracle edit
    moves it even with every module sha pinned."""
    target = next(n for n in sorted(CATALOG) if CATALOG[n].oracle)
    before = entry_mod._deep_hash(target)
    mutated = dataclasses.replace(
        CATALOG[target], oracle=CATALOG[target].oracle + " -- edited"
    )
    monkeypatch.setitem(CATALOG, target, mutated)
    assert entry_mod._deep_hash(target) != before


def test_order_cached_within_process(monkeypatch):
    """queries()/oracle_sql() must agree within a run even if the driver
    writes a new CORRECTNESS file mid-process (ADVICE r5)."""
    first = entry_mod._catalog_order()
    calls = {"n": 0}

    def boom():
        calls["n"] += 1
        raise AssertionError("must not recompute")

    monkeypatch.setattr(entry_mod, "_latest_rows", boom)
    assert entry_mod._catalog_order() is first
    assert calls["n"] == 0
