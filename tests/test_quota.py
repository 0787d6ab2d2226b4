"""plans/quota.py — per-source caps and exact-N budget allocation."""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from aircraftutilization_etl_spark.plans.quota import (
    QUOTA_PER_SOURCE,
    TOTAL_BUDGET,
    budget_allocate,
)
from tests.conftest import query_rows


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()  # noqa: S324


def _hamilton(counts: dict[str, int], total: int) -> dict[str, int]:
    """Reference largest-remainder apportionment over sqrt weights —
    the same integer arithmetic budget_allocate must implement."""
    w = {s: int(math.floor(math.sqrt(float(n)) * 1_000_000))
         for s, n in counts.items()}
    wtot = sum(w.values())
    base = {s: total * v // wtot for s, v in w.items()}
    rem = {s: (total * v) % wtot for s, v in w.items()}
    for s in sorted(rem, key=lambda s: (-rem[s], s))[
        : total - sum(base.values())
    ]:
        base[s] += 1
    return base


def test_allocation_sums_to_budget_and_picks_md5_rank(spark):
    counts = {"a": 40, "b": 10, "c": 90}
    rows = [
        (f"{s}{i}", s) for s, n in counts.items() for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    out = budget_allocate(df, 20).collect()
    alloc = _hamilton(counts, 20)
    assert sum(alloc.values()) == 20
    from collections import Counter

    got = Counter(r["source"] for r in out)
    assert dict(got) == {s: n for s, n in alloc.items() if n}
    # each source keeps exactly its allocation's md5-smallest keys
    for s, n in alloc.items():
        want = sorted(
            (k for k, src in rows if src == s),
            key=lambda k: (_md5(k), k),
        )[:n]
        assert sorted(r["doc_id"] for r in out if r["source"] == s) == sorted(
            want
        )


def test_allocation_shortfall_when_a_source_runs_dry(spark):
    """sqrt weighting over-allocates small sources; with no
    redistribution pass the kept total honestly falls short."""
    counts = {"tiny": 2, "big": 400}
    rows = [(f"{s}{i}", s) for s, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    total = 100
    alloc = _hamilton(counts, total)
    assert alloc["tiny"] > counts["tiny"]  # the premise: over-allocated
    out = budget_allocate(df, total).collect()
    from collections import Counter

    got = Counter(r["source"] for r in out)
    assert got["tiny"] == counts["tiny"]  # capped at what exists
    assert got["big"] == alloc["big"]
    assert len(out) == total - (alloc["tiny"] - counts["tiny"])


def test_allocation_empty_input_keeps_schema(spark):
    df = spark.createDataFrame([], "doc_id string, source string")
    out = budget_allocate(df, 10)
    assert [
        (f.name, f.dataType.simpleString()) for f in out.schema.fields
    ] == [("doc_id", "string"), ("source", "string")]
    assert out.count() == 0


def test_catalog_constants_bite_at_smallest_sf():
    # sf0.001 ships 20 sources x 25 docs: the per-source cap (10 < 25)
    # and the exact budget (120 < 500) both constrain at every SF
    assert QUOTA_PER_SOURCE < 25
    assert TOTAL_BUDGET < 500


def test_budget_plan_is_one_scan_one_window_one_broadcast(spark):
    from tests.conftest import count_exchanges
    from aircraftutilization_etl_spark.plans import CATALOG

    df = CATALOG["q_quota_budget_allocation"].spark(
        spark, "/root/testdata/sf0.001"
    )
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # the data-sized side: map-side rank prune + one hash exchange,
    # then a broadcast join against the driver-computed allocation
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    assert count_exchanges(df) <= 2  # rank exchange (+ alloc broadcast)
    # exactly one parquet scan (one Location line per scan in the
    # details section): the allocation is a literal local relation,
    # not a re-derived aggregate over the fact table
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_null_source_raises_readably(spark):
    """ADVICE r9: a NULL source must fail loudly, not TypeError inside
    sorted() or silently drop rows in the equi-join."""
    import pytest as _pytest

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_with_floor,
    )

    df = spark.createDataFrame(
        [("d1", "a"), ("d2", None), ("d3", "b")],
        "doc_id string, source string",
    )
    with _pytest.raises(ValueError, match="non-null 'source'"):
        budget_allocate(df, 2)
    with _pytest.raises(ValueError, match="non-null 'source'"):
        budget_allocate_with_floor(df, 2, 1)


def _floored_reference(
    counts: dict[str, int], total: int, floor: int
) -> dict[str, int]:
    """Reference floors-then-capacity-proportional apportionment."""
    floors = {s: min(n, floor) for s, n in counts.items()}
    caps = {s: n - floors[s] for s, n in counts.items()}
    remaining = max(0, total - sum(floors.values()))
    ctot = sum(caps.values())
    base = {s: 0 for s in counts}
    if remaining and ctot:
        base = {s: remaining * c // ctot for s, c in caps.items()}
        rem = {s: (remaining * c) % ctot for s, c in caps.items()}
        for s in sorted(rem, key=lambda s: (-rem[s], s))[
            : remaining - sum(base.values())
        ]:
            base[s] += 1
    return {s: floors[s] + base[s] for s in counts}


def test_floored_allocation_guarantees_floor_and_spreads_rest(spark):
    from collections import Counter

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_with_floor,
    )

    counts = {"tiny": 2, "small": 8, "big": 60, "huge": 130}
    rows = [(f"{s}{i}", s) for s, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    total, floor = 50, 5
    got = Counter(
        r["source"]
        for r in budget_allocate_with_floor(df, total, floor).collect()
    )
    want = _floored_reference(counts, total, floor)
    assert dict(got) == {s: n for s, n in want.items() if n}
    # the floor is honored: every source keeps min(n, floor) at least
    assert got["tiny"] == 2  # capacity-bound, whole source kept
    assert got["small"] >= floor and got["big"] >= floor
    assert sum(got.values()) == total  # no source ran dry here


def test_floor_dominated_budget_keeps_floors_only(spark):
    from collections import Counter

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_with_floor,
    )

    counts = {"a": 30, "b": 40, "c": 50}
    rows = [(f"{s}{i}", s) for s, n in counts.items() for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id string, source string")
    # Σfloors = 30 > total = 10: floors win, nothing proportional
    got = Counter(
        r["source"]
        for r in budget_allocate_with_floor(df, 10, 10).collect()
    )
    assert dict(got) == {"a": 10, "b": 10, "c": 10}


def _two_level_reference(
    cells: dict[tuple[str, str], int], total: int
) -> dict[tuple[str, str], int]:
    """Reference nested-Hamilton apportionment (outer=lang, inner=source)."""

    def ham(weights: dict, budget: int) -> dict:
        wtot = sum(weights.values())
        base = {s: budget * w // wtot for s, w in weights.items()}
        rem = {s: (budget * w) % wtot for s, w in weights.items()}
        for s in sorted(rem, key=lambda s: (-rem[s], s))[
            : budget - sum(base.values())
        ]:
            base[s] += 1
        return base

    def sw(n: int) -> int:
        return int(math.floor(math.sqrt(float(n)) * 1_000_000))

    outer_n: dict = {}
    for (o, _), n in cells.items():
        outer_n[o] = outer_n.get(o, 0) + n
    oa = ham({o: sw(n) for o, n in outer_n.items()}, total)
    out: dict = {}
    for o in sorted(outer_n):
        iw = {i: sw(n) for (oo, i), n in cells.items() if oo == o}
        for i, a in ham(iw, oa[o]).items():
            out[(o, i)] = a
    return out


def test_two_level_allocation_matches_reference(spark):
    from collections import Counter

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_two_level,
    )

    cells = {
        ("en", "web"): 60,
        ("en", "news"): 25,
        ("en", "wiki"): 9,
        ("fr", "web"): 30,
        ("fr", "wiki"): 6,
        ("zh", "web"): 20,
    }
    rows = [
        (f"{o}-{i}-{k}", o, i)
        for (o, i), n in cells.items()
        for k in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id string, lang string, source string")
    total = 40
    want = _two_level_reference(cells, total)
    # the inner rounds each sum exactly to the outer allocation, and
    # the outer round sums exactly to the budget
    assert sum(want.values()) == total
    got = Counter(
        (r["lang"], r["source"])
        for r in budget_allocate_two_level(df, total).collect()
    )
    assert dict(got) == {c: n for c, n in want.items() if n}
    # within a cell, selection is the md5-smallest keys
    for (o, i), n in want.items():
        keys = sorted(
            (k for k, oo, ii in rows if (oo, ii) == (o, i)),
            key=lambda k: (_md5(k), k),
        )[:n]
        kept = sorted(
            r["doc_id"]
            for r in budget_allocate_two_level(df, total).collect()
            if (r["lang"], r["source"]) == (o, i)
        )
        assert kept == sorted(keys)
        break  # one cell's membership check is enough; counts pin the rest


def test_two_level_null_strata_raises(spark):
    import pytest as _pytest

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_two_level,
    )

    df = spark.createDataFrame(
        [("d1", "en", "web"), ("d2", None, "web")],
        "doc_id string, lang string, source string",
    )
    with _pytest.raises(ValueError, match="non-null 'lang'"):
        budget_allocate_two_level(df, 1)


def _recency_reference(
    rows: list, total: int, half_life: int
) -> dict[str, int]:
    """Reference decayed-volume apportionment over (type, date) counts."""
    from collections import Counter

    day_counts = Counter((t, d) for _, t, d in rows)
    dmax = max(d for _, _, d in rows)
    w: dict = {}
    for (t, d), n in day_counts.items():
        w[t] = w.get(t, 0) + n * (
            1_000_000 >> min((dmax - d).days // half_life, 62)
        )
    wtot = sum(w.values())
    base = {s: total * v // wtot for s, v in w.items()}
    rem = {s: (total * v) % wtot for s, v in w.items()}
    for s in sorted(rem, key=lambda s: (-rem[s], s))[
        : total - sum(base.values())
    ]:
        base[s] += 1
    return base


def test_recency_decay_weights_and_most_recent_selection(spark):
    import datetime as dt
    from collections import Counter

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_recency,
    )

    base_day = dt.date(2024, 3, 1)
    # "fresh" ships all its volume on the newest day; "stale" the same
    # volume 21 days (3 half-lives) earlier -> 8x lighter per row
    rows = []
    eid = 0
    for typ, age, n in (("fresh", 0, 40), ("stale", 21, 40), ("mixed", 7, 40)):
        for _ in range(n):
            rows.append((eid, typ, base_day - dt.timedelta(days=age)))
            eid += 1
    df = spark.createDataFrame(
        [
            (i, t, dt.datetime.combine(d, dt.time(12, 0)) )
            for i, t, d in rows
        ],
        "event_id bigint, event_type string, ts timestamp",
    )
    total, hl = 30, 7
    want = _recency_reference(rows, total, hl)
    assert want["fresh"] > want["mixed"] > want["stale"]  # decay bites
    got = Counter(
        r["event_type"]
        for r in budget_allocate_recency(df, total, hl).collect()
    )
    assert dict(got) == {s: n for s, n in want.items() if n}


def test_recency_keeps_most_recent_rows(spark):
    import datetime as dt

    from aircraftutilization_etl_spark.plans.quota import (
        budget_allocate_recency,
    )

    # one type, distinct timestamps: the kept set must be exactly the
    # newest `total` events
    rows = [
        (i, "click", dt.datetime(2024, 3, 1, 0, 0, 0) + dt.timedelta(hours=i))
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, event_type string, ts timestamp"
    )
    kept = sorted(
        r["event_id"]
        for r in budget_allocate_recency(df, 5, 7).collect()
    )
    assert kept == [15, 16, 17, 18, 19]


def test_new_quota_plans_are_group_limited_broadcast_single_scan(spark):
    import contextlib
    import io

    from aircraftutilization_etl_spark.plans import CATALOG

    for name in ("q_quota_budget_two_level", "q_quota_recency_decay"):
        df = CATALOG[name].spark(spark, "/root/testdata/sf0.001")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "WindowGroupLimit" in plan, name
        assert "BroadcastHashJoin" in plan, name
        # the driver-side apportionment means the returned plan scans
        # the fact table exactly once
        assert plan.count("Location: InMemoryFileIndex") == 1, name


def test_hamilton_negative_budget_raises():
    """ADVICE r10: a negative budget floor-divides into negative
    per-group allocations that downstream rn <= alloc filters silently
    misread — the shared kernel must fail loudly instead."""
    import pytest

    from aircraftutilization_etl_spark.plans.quota import hamilton_apportion

    with pytest.raises(ValueError, match="non-negative budget"):
        hamilton_apportion({"a": 1, "b": 2}, -1)
    # zero budget stays legal (allocates nothing, sums to 0)
    assert hamilton_apportion({"a": 1, "b": 2}, 0) == {"a": 0, "b": 0}


def test_null_strata_catalog_queries_agree_with_oracle(spark, tmp_path):
    """ADVICE r10: on NULL-bearing strata the Spark allocators raised
    while the oracles silently mis-weighted. Both now exclude NULL
    strata with the same predicate — proven here on data the gate never
    sees: a corpus WITH NULL lang/source/event_type rows, where the two
    engines must return the identical kept set."""
    import datetime as dt

    import duckdb

    from aircraftutilization_etl_spark.plans import CATALOG

    docs = [
        (i, f"t{i}", ["en", "de", None][i % 3], f"s{i % 4}", 100 + i)
        for i in range(60)
    ]
    docs += [(100 + j, "tx", "en", None, 50) for j in range(6)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    evs = [
        (
            i,
            [None, "click", "view"][i % 3],
            dt.datetime(2024, 3, 1) + dt.timedelta(hours=i),
        )
        for i in range(60)
    ]
    spark.createDataFrame(
        evs, "event_id long, event_type string, ts timestamp"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )

    con = duckdb.connect()
    for t in ("documents", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"parquet_scan('{tmp_path}/{t}.parquet/*.parquet')"
        )
    for name in (
        "q_quota_budget_allocation",
        "q_quota_floored_allocation",
        "q_quota_budget_two_level",
        "q_quota_recency_decay",
    ):
        got = sorted(
            tuple(r) for r in query_rows(spark, CATALOG[name], str(tmp_path))
        )
        want = sorted(tuple(r) for r in con.execute(CATALOG[name].oracle).fetchall())
        assert got == want, name
        assert got, name  # NULL filtering must not empty the result
