"""Warehouse operators: mergeable rollups and SCD2 history."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.warehouse import (
    merge_rollups,
    partial_rollup,
    scd2_history,
)
from tests.conftest import rows_sorted

TS = dt.datetime


def _events(spark):
    rows = [
        # (key, ts_minute, value)
        ("a", 1, 10), ("a", 2, 20), ("a", 7, 5),
        ("b", 1, 100), ("b", 9, 1),
        ("c", 3, 42),
    ]
    return spark.createDataFrame(
        [(k, TS(2024, 1, 1, 0, m), v) for k, m, v in rows],
        "key string, ts timestamp, v long",
    )


def test_incremental_rollup_equals_one_shot(spark):
    ev = _events(spark)
    one_shot = partial_rollup(
        ev, ["key"], sums=["v"], mins=["v"], maxs=["v"]
    )
    cut = TS(2024, 1, 1, 0, 5)
    merged = merge_rollups(
        [
            partial_rollup(
                ev.filter(F.col("ts") < cut), ["key"],
                sums=["v"], mins=["v"], maxs=["v"],
            ),
            partial_rollup(
                ev.filter(F.col("ts") >= cut), ["key"],
                sums=["v"], mins=["v"], maxs=["v"],
            ),
        ],
        ["key"], sums=["v"], mins=["v"], maxs=["v"],
    )
    assert rows_sorted(merged) == rows_sorted(one_shot)


def test_merge_is_associative_with_prior_state(spark):
    """Folding increments one at a time (state <- merge(state, inc))
    gives the same answer as merging all partials at once — the property
    a long-lived maintained rollup depends on."""
    ev = _events(spark)
    cuts = [TS(2024, 1, 1, 0, 2), TS(2024, 1, 1, 0, 8)]
    spec = dict(sums=["v"], mins=["v"], maxs=["v"])
    batches = [
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    ]
    partials = [partial_rollup(b, ["key"], **spec) for b in batches]
    all_at_once = merge_rollups(partials, ["key"], **spec)
    state = partials[0]
    for inc in partials[1:]:
        state = merge_rollups([state, inc], ["key"], **spec)
    assert rows_sorted(state) == rows_sorted(all_at_once)


def test_rollup_batch_with_no_rows_for_a_key(spark):
    """Keys absent from an increment keep their prior state."""
    ev = _events(spark)
    spec = dict(sums=["v"], mins=["v"], maxs=["v"])
    only_c = partial_rollup(
        ev.filter(F.col("key") == "c"), ["key"], **spec
    )
    rest = partial_rollup(
        ev.filter(F.col("key") != "c"), ["key"], **spec
    )
    merged = merge_rollups([only_c, rest], ["key"], **spec)
    assert rows_sorted(merged) == rows_sorted(
        partial_rollup(ev, ["key"], **spec)
    )


def _changelog(spark):
    rows = [
        # key, seq, state  (runs of equal state must collapse)
        ("u1", 1, "free"), ("u1", 2, "free"), ("u1", 3, "pro"),
        ("u1", 4, "pro"), ("u1", 5, "free"),
        ("u2", 1, "pro"),
        ("u3", 1, None), ("u3", 2, None), ("u3", 3, "free"),
    ]
    return spark.createDataFrame(
        [(k, s, TS(2024, 1, 1, 0, s), st) for k, s, st in rows],
        "key string, seq long, ts timestamp, state string",
    )


def test_scd2_collapses_noop_changes_and_dates_versions(spark):
    hist = scd2_history(
        _changelog(spark), key="key", attrs=["state"], ts_col="ts",
        tiebreak="seq",
    )
    got = {
        (r["key"], r["state"], r["valid_from"].minute,
         r["valid_to"].minute if r["valid_to"] else None, r["is_current"])
        for r in hist.collect()
    }
    assert got == {
        ("u1", "free", 1, 3, False),
        ("u1", "pro", 3, 5, False),
        ("u1", "free", 5, None, True),
        ("u2", "pro", 1, None, True),
        # NULL run collapses via null-safe equality, then opens "free"
        ("u3", None, 1, 3, False),
        ("u3", "free", 3, None, True),
    }


def test_scd2_deterministic_under_repartition(spark):
    log = _changelog(spark)
    a = scd2_history(log, "key", ["state"], "ts", "seq")
    b = scd2_history(
        log.repartition(7, "seq"), "key", ["state"], "ts", "seq"
    )
    assert rows_sorted(a) == rows_sorted(b)


def test_scd2_plan_has_single_exchange_and_sort(spark):
    """Both window passes must share one shuffle + sort on the key."""
    hist = scd2_history(
        _changelog(spark), key="key", attrs=["state"], ts_col="ts",
        tiebreak="seq",
    )
    plan = hist._jdf.queryExecution().executedPlan().toString()
    # AQE wraps the plan; count physical occurrences in the final plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") == 1


class TestZOrder:
    def test_zvalue_is_bijective_on_grid(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import with_zvalue

        grid = spark.createDataFrame(
            [(a, b) for a in range(32) for b in range(32)], ["a", "b"]
        )
        z = with_zvalue(grid, "a", "b")
        assert z.select("zval").distinct().count() == 1024
        assert z.agg({"zval": "max"}).collect()[0][0] == 1023

    def test_buckets_bound_square_envelopes(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            zorder_bucket_stats,
        )

        # full 64x64 grid, 8-bit buckets: each bucket is exactly a
        # 16x16 rectangle with 256 rows — the z-curve locality guarantee
        grid = spark.createDataFrame(
            [(a, b) for a in range(64) for b in range(64)], ["a", "b"]
        )
        stats = zorder_bucket_stats(grid, "a", "b", bucket_shift=8).collect()
        assert len(stats) == 16
        for r in stats:
            assert r["n_rows"] == 256
            assert r["max_a"] - r["min_a"] == 15
            assert r["max_b"] - r["min_b"] == 15


# --- snapshot diff --------------------------------------------------------


def test_snapshot_diff_statuses_and_null_safety(spark):
    from aircraftutilization_etl_spark.operators.warehouse import (
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [
            (1, "a", 10),      # unchanged
            (2, "b", 20),      # changed: v
            (3, None, 30),     # unchanged (null == null)
            (4, "d", None),    # changed: n null -> value
            (5, "gone", 50),   # removed
        ],
        "k long, v string, n int",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "B", 20),
            (3, None, 30),
            (4, "d", 40),
            (6, "new", 60),    # added
        ],
        "k long, v string, n int",
    )
    rows = {
        r["k"]: (r["status"], list(r["changed_columns"]))
        for r in snapshot_diff(old, new, "k", ["v", "n"]).collect()
    }
    assert rows == {
        1: ("unchanged", []),
        2: ("changed", ["v"]),
        3: ("unchanged", []),
        4: ("changed", ["n"]),
        5: ("removed", []),
        6: ("added", []),
    }


# --- hilbert curve --------------------------------------------------------


def _xy2d_ref(bits, x, y):
    n = 1 << bits
    d = 0
    s = n // 2
    x &= n - 1
    y &= n - 1
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_reference_is_a_space_filling_curve():
    """Bijection + unit-step adjacency over the full grid — the two
    properties that characterize a Hilbert curve (any mapping passing
    both IS one, up to symmetry)."""
    bits = 4
    n = 1 << bits
    cells = sorted(
        (_xy2d_ref(bits, x, y), x, y) for x in range(n) for y in range(n)
    )
    assert [c[0] for c in cells] == list(range(n * n))
    assert all(
        abs(cells[i + 1][1] - cells[i][1]) + abs(cells[i + 1][2] - cells[i][2])
        == 1
        for i in range(len(cells) - 1)
    )


def test_hilbert_spark_matches_reference(spark):
    from aircraftutilization_etl_spark.operators.warehouse import (
        HILBERT_BITS,
        with_hilbert_value,
    )

    rows = [(i, (i * 37) % 300, (i * 101) % 300) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    got = {
        r["id"]: r["hval"]
        for r in with_hilbert_value(df, "a", "b").collect()
    }
    for i, a, b in rows:
        assert got[i] == _xy2d_ref(HILBERT_BITS, a, b), (i, a, b)


def test_hilbert_buckets_tighter_than_zorder(spark):
    """The locality claim, measured: over a uniform grid, the mean
    bucket envelope area of equal-width Hilbert ranges is no larger
    than the z-order prefix buckets' — the reason to pay for the
    longer expression chain."""
    from aircraftutilization_etl_spark.operators.warehouse import (
        with_hilbert_value,
        with_zvalue,
    )
    from pyspark.sql import functions as F

    rows = [(x, y) for x in range(0, 256, 4) for y in range(0, 256, 4)]
    df = spark.createDataFrame(rows, "a long, b long")

    def mean_area(bucketed):
        stats = (
            bucketed.groupBy("bucket")
            .agg(
                ((F.max("a") - F.min("a") + 1) * (F.max("b") - F.min("b") + 1)).alias(
                    "area"
                )
            )
            .agg(F.avg("area"))
            .first()[0]
        )
        return stats

    h_area = mean_area(
        with_hilbert_value(df, "a", "b").select(
            "a", "b", F.expr("hval >> 8").alias("bucket")
        )
    )
    z_area = mean_area(
        with_zvalue(df, "a", "b").select(
            "a", "b", F.expr("zval >> 8").alias("bucket")
        )
    )
    assert h_area <= z_area


class TestPointInTimeJoin:
    def test_version_selection_and_boundaries(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            point_in_time_join,
        )

        hist = spark.createDataFrame(
            [
                (1, "bronze", 10, 20),
                (1, "gold", 20, None),
                (2, "silver", 5, 8),
            ],
            "user_id long, state string, valid_from long, valid_to long",
        )
        facts = spark.createDataFrame(
            [
                (100, 1, 10),   # inclusive lower bound -> bronze
                (101, 1, 19),   # inside -> bronze
                (102, 1, 20),   # exclusive upper / inclusive next -> gold
                (103, 1, 99),   # open-ended current row -> gold
                (104, 2, 8),    # at closed valid_to, no next version -> drop
                (105, 2, 4),    # before first version -> drop
                (106, 3, 10),   # unknown key -> drop
            ],
            "event_id long, user_id long, ts long",
        )
        out = {
            r.event_id: r.state
            for r in point_in_time_join(facts, hist, "user_id", "ts").collect()
        }
        assert out == {100: "bronze", 101: "bronze", 102: "gold", 103: "gold"}

    def test_unique_match_per_fact(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            point_in_time_join,
        )

        hist = spark.createDataFrame(
            [(1, "a", 0, 10), (1, "b", 10, 20), (1, "c", 20, None)],
            "user_id long, state string, valid_from long, valid_to long",
        )
        facts = spark.createDataFrame(
            [(i, 1, t) for i, t in enumerate(range(0, 30))],
            "event_id long, user_id long, ts long",
        )
        out = point_in_time_join(facts, hist, "user_id", "ts")
        assert out.count() == 30
        assert out.select("event_id").distinct().count() == 30


class TestDeltaJoin:
    """Incremental join-view maintenance: old view + maintained delta
    must equal the full recompute, as row multisets."""

    def _frames(self, spark):
        a_old = spark.createDataFrame(
            [(1, "a1"), (2, "a2")], "k long, av string"
        )
        a_new = spark.createDataFrame([(2, "a3"), (3, "a4")], "k long, av string")
        b_old = spark.createDataFrame(
            [(1, "b1"), (2, "b2"), (3, "b3")], "k long, bv string"
        )
        b_new = spark.createDataFrame([(1, "b4"), (4, "b5")], "k long, bv string")
        return a_old, a_new, b_old, b_new

    def test_old_plus_delta_equals_full_recompute(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import delta_join

        a_old, a_new, b_old, b_new = self._frames(spark)
        old_view = a_old.join(b_old, "k")
        delta = delta_join(a_old, a_new, b_old, b_new, on="k")
        maintained = old_view.unionByName(delta)
        full = a_old.unionByName(a_new).join(
            b_old.unionByName(b_new), "k"
        )
        assert maintained.exceptAll(full).count() == 0
        assert full.exceptAll(maintained).count() == 0

    def test_empty_deltas_produce_empty_view_delta(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import delta_join

        a_old, _, b_old, _ = self._frames(spark)
        empty_a = a_old.limit(0)
        empty_b = b_old.limit(0)
        assert delta_join(a_old, empty_a, b_old, empty_b, on="k").count() == 0


class TestLayoutPruningAudit:
    def test_envelopes_and_invariants(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            layout_pruning_audit,
        )

        # 32x32 key grid spread over the full 8-bit curve domain
        # (stride 8); insertion key is a multiplicative scramble of the
        # row id so natural file chunks hold scattered keys
        rows = [
            ((i * 997) % 1024, (i % 32) * 8, ((i // 32) % 32) * 8)
            for i in range(1, 1025)
        ]
        df = spark.createDataFrame(rows, "ok long, a long, b long")
        out = {
            r.layout: r
            for r in layout_pruning_audit(
                df, "a", "b", "ok", lo=40, hi=71, bucket_width=192
            ).collect()
        }
        assert set(out) == {"natural", "zorder", "hilbert"}
        # row totals and match counts agree across layouts
        totals = {r.rows_total for r in out.values()}
        matches = {r.rows_match for r in out.values()}
        assert totals == {1024} and len(matches) == 1
        # scattered-key natural files barely skip; clustered layouts
        # scan several times less
        assert out["natural"].scan_ppm >= 500_000
        assert out["hilbert"].rows_scanned * 3 < out["natural"].rows_scanned
        assert out["zorder"].rows_scanned * 3 < out["natural"].rows_scanned
        # scanned rows always cover the matching rows
        for r in out.values():
            assert r.rows_scanned >= r.rows_match


class TestScd2Apply:
    def _ev(self, spark, rows):
        return spark.createDataFrame(
            rows, "k long, attr string, ts long, tie long"
        )

    def test_apply_equals_full_rebuild(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            scd2_apply,
            scd2_history,
        )

        old = [(1, "a", 10, 1), (1, "b", 20, 2), (2, "x", 5, 3)]
        new = [(1, "b", 30, 4), (1, "c", 40, 5), (3, "q", 50, 6)]
        hist = scd2_history(self._ev(spark, old), "k", ["attr"], "ts", "tie")
        applied = scd2_apply(
            hist, self._ev(spark, new), "k", ["attr"], "ts", "tie"
        )
        full = scd2_history(
            self._ev(spark, old + new), "k", ["attr"], "ts", "tie"
        )
        key = ["k", "attr", "valid_from", "valid_to", "is_current"]
        assert sorted(map(tuple, applied.select(*key).collect())) == sorted(
            map(tuple, full.select(*key).collect())
        )

    def test_same_attr_delta_extends_open_version(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            scd2_apply,
            scd2_history,
        )

        hist = scd2_history(
            self._ev(spark, [(1, "a", 10, 1)]), "k", ["attr"], "ts", "tie"
        )
        applied = scd2_apply(
            hist, self._ev(spark, [(1, "a", 99, 2)]), "k", ["attr"], "ts",
            "tie",
        )
        rows = applied.collect()
        # no new version: one row, original valid_from, still open
        assert len(rows) == 1
        assert rows[0]["valid_from"] == 10 and rows[0]["is_current"]

    def test_untouched_keys_pass_through(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import (
            scd2_apply,
            scd2_history,
        )

        hist = scd2_history(
            self._ev(spark, [(1, "a", 10, 1), (2, "x", 5, 2)]),
            "k", ["attr"], "ts", "tie",
        )
        applied = scd2_apply(
            hist, self._ev(spark, [(1, "b", 20, 3)]), "k", ["attr"], "ts",
            "tie",
        )
        two = [r for r in applied.collect() if r["k"] == 2]
        assert len(two) == 1 and two[0]["is_current"]


class TestScd2ApplyRandomized:
    def test_randomized_apply_equals_rebuild(self, spark):
        """Seeded random change logs: applying the post-cut slice to the
        pre-cut history must equal the full rebuild — for any key set,
        state alphabet, tie pattern, and cut point."""
        import random

        from aircraftutilization_etl_spark.operators.warehouse import (
            scd2_apply,
            scd2_history,
        )

        for seed in (7, 23, 99):
            rng = random.Random(seed)
            rows = []
            tie = 0
            for k in range(rng.randint(3, 8)):
                t = 0
                for _ in range(rng.randint(1, 12)):
                    t += rng.randint(0, 5)  # allow equal-ts ties
                    tie += 1
                    rows.append((k, rng.choice("abc"), t, tie))
            cut = rng.randint(1, 25)
            df = spark.createDataFrame(
                rows, "k long, attr string, ts long, tie long"
            )
            old = df.filter(f"ts < {cut}")
            new = df.filter(f"ts >= {cut}")
            hist = scd2_history(old, "k", ["attr"], "ts", "tie")
            applied = scd2_apply(hist, new, "k", ["attr"], "ts", "tie")
            full = scd2_history(df, "k", ["attr"], "ts", "tie")
            key = ["k", "attr", "valid_from", "valid_to", "is_current"]
            assert sorted(
                map(tuple, applied.select(*key).collect())
            ) == sorted(map(tuple, full.select(*key).collect())), seed
