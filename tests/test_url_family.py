"""Behavior and plan-shape tests for the URL/domain curation family."""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import random

import pyspark.sql.functions as F
import pytest

from aircraftutilization_etl_spark.operators.url import domain_admission_batch
from aircraftutilization_etl_spark.plans import CATALOG
from aircraftutilization_etl_spark.plans.url import (
    BLOCKED_DOMAINS,
    DOMAIN_BUDGET,
    DOMAIN_CAP,
    _cdocs,
)
from tests.conftest import query_rows

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_one_source_one_domain_and_suffix_branches(spark):
    """The synthetic corpus maps each source to exactly one registrable
    domain, and the 20 sources cover plain TLDs AND multi-label
    public-suffix entries (both extraction branches live in the data,
    not only in fixtures)."""
    pairs = (
        _cdocs(spark, SF)
        .select("source", "domain")
        .distinct()
        .collect()
    )
    per_source: dict = {}
    for r in pairs:
        per_source.setdefault(r.source, set()).add(r.domain)
    assert all(len(v) == 1 for v in per_source.values())
    doms = {d for v in per_source.values() for d in v}
    assert any(d.count(".") == 2 for d in doms)  # e.g. src4.co.uk
    assert any(d.count(".") == 1 for d in doms)  # e.g. src5.com


def test_url_dedup_discovers_collisions_and_keeps_min(spark):
    out = query_rows(spark, CATALOG["q_url_dedup"], SF)
    assert any(r.n_docs > 1 for r in out)  # real duplicate groups
    assert sum(r.n_docs for r in out) == 500  # partition of the corpus
    # keeper is the min doc_id of its group: re-derive one group
    cd = _cdocs(spark, SF)
    target = next(r for r in out if r.n_docs > 1)
    members = sorted(
        r.doc_id
        for r in cd.filter(
            F.col("canonical_url") == target.canonical_url
        ).collect()
    )
    assert len(members) == target.n_docs
    assert members[0] == target.keeper


def test_domain_caps_bound_and_subset(spark):
    kept = query_rows(spark, CATALOG["q_domain_caps"], SF)
    per_dom: dict = {}
    for r in kept:
        per_dom[r.domain] = per_dom.get(r.domain, 0) + 1
    assert per_dom and max(per_dom.values()) <= DOMAIN_CAP
    # every domain with >= cap docs is kept at exactly the cap
    sizes = {
        r.domain: r.n
        for r in _cdocs(spark, SF).groupBy("domain").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    for dom, n in sizes.items():
        assert per_dom.get(dom, 0) == min(n, DOMAIN_CAP)


def test_blocklist_excludes_both_suffix_branches(spark):
    out = query_rows(spark, CATALOG["q_domain_blocklist"], SF)
    doms = {r.domain for r in out}
    assert doms.isdisjoint(set(BLOCKED_DOMAINS))
    # both blocked domains actually exist in the corpus (the filter
    # removed something real)
    all_doms = {
        r.domain for r in _cdocs(spark, SF).select("domain").distinct().collect()
    }
    assert set(BLOCKED_DOMAINS) <= all_doms
    assert len(doms) == len(all_doms) - len(BLOCKED_DOMAINS)


def test_domain_quota_sums_exactly_to_budget(spark):
    kept = query_rows(spark, CATALOG["q_domain_quota"], SF)
    assert len(kept) == DOMAIN_BUDGET  # no domain runs dry at sf0.001
    per_dom: dict = {}
    for r in kept:
        per_dom[r.domain] = per_dom.get(r.domain, 0) + 1
    assert len(per_dom) >= 2  # spread, not a single-domain dump


def test_caps_and_quota_plans_are_group_limited_single_scan(spark):
    for name in ("q_domain_caps", "q_domain_quota"):
        plan = _plan(CATALOG[name].spark(spark, SF))
        assert "WindowGroupLimit" in plan, name
        assert plan.count("Location: InMemoryFileIndex") == 1, name
    assert "BroadcastHashJoin" in _plan(
        CATALOG["q_domain_quota"].spark(spark, SF)
    )


def test_blocklist_filter_pushes_to_scan_compactly(spark):
    """The domain blocklist predicate is PUSHED below the projections
    (blocked rows never shuffle) — and because every URL part
    references the url exactly once (operators/url.with_url_columns),
    the inlined predicate stays compact: the whole optimized plan must
    be under 200 KB where the naive nested-split derivation measured
    840 KB for the filter alone."""
    df = CATALOG["q_domain_blocklist"].spark(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter" in opt
    assert len(opt) < 200_000
    # and the scan still prunes to the columns the query needs
    plan = _plan(df)
    assert "text#" not in plan.split("ReadSchema")[-1]


def test_url_canonical_zero_shuffle_projection(spark):
    """q_url_canonical is a pure per-row projection + output sort: no
    joins, no aggregates — the single exchange is the final orderBy."""
    plan = _plan(CATALOG["q_url_canonical"].spark(spark, SF))
    assert "Join" not in plan
    assert "HashAggregate" not in plan


ADMISSION_CAP = 5


def _admission_log(spark):
    """Seeded document log: hot.example far over the cap, exact.example
    exactly at it, cold.example under it."""
    rng = random.Random(411)
    domains = (
        ["hot.example"] * 23
        + ["exact.example"] * ADMISSION_CAP
        + ["cold.example"] * 2
    )
    rng.shuffle(domains)
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    return spark.createDataFrame(
        [
            (i, d, base + dt.timedelta(seconds=10 * i))
            for i, d in enumerate(domains)
        ],
        "doc_id long, domain string, ts timestamp",
    )


def test_batch_twin_uses_window_group_limit(spark):
    """The rn <= cap filter must lower to the map-side WindowGroupLimit
    (top-k heap per task), the q_domain_caps plan shape."""
    plan = (
        domain_admission_batch(_admission_log(spark), ADMISSION_CAP)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_admission_invalid_cap_raises(spark):
    with pytest.raises(ValueError, match="cap"):
        domain_admission_batch(_admission_log(spark), 0)
