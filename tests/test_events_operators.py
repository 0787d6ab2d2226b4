"""Event-stream operator unit tests with hand-built streams."""

from __future__ import annotations

import datetime as dt

from aircraftutilization_etl_spark.operators.events import sessionize

BASE = dt.datetime(2024, 4, 5, 10, 0, 0)


def _m(minutes):
    return BASE + dt.timedelta(minutes=minutes)


def test_sessionize_gap_splits(spark):
    df = spark.createDataFrame(
        [
            ("u1", _m(0), 1),
            ("u1", _m(10), 2),   # within 30-min gap -> same session
            ("u1", _m(50), 3),   # 40-min gap -> new session
            ("u2", _m(0), 4),    # other key -> own session numbering
        ],
        "user_id string, ts timestamp, event_id long",
    )
    out = {
        r["event_id"]: r["session_seq"]
        for r in sessionize(df, "user_id", "ts", 30, ("event_id",)).collect()
    }
    assert out == {1: 1, 2: 1, 3: 2, 4: 1}


def test_sessionize_boundary_gap_is_same_session(spark):
    # exactly 30 minutes is NOT > gap -> same session
    df = spark.createDataFrame(
        [("u", _m(0), 1), ("u", _m(30), 2)],
        "user_id string, ts timestamp, event_id long",
    )
    out = {r["event_id"]: r["session_seq"]
           for r in sessionize(df, "user_id", "ts", 30).collect()}
    assert out == {1: 1, 2: 1}


def test_range_join_window_boundaries(spark):
    from aircraftutilization_etl_spark.operators.events import (
        range_join_bucketed,
    )

    left = spark.createDataFrame(
        [("u", _m(60), "L")], "k string, l_ts timestamp, name string"
    )
    right = spark.createDataFrame(
        [
            ("u", _m(30), "exact_lower"),   # exactly -30 min: included
            ("u", _m(90), "exact_upper"),   # exactly +30 min: included
            ("u", _m(29), "outside_low"),   # excluded
            ("u", _m(91), "outside_high"),  # excluded
            ("u", _m(61), "inside"),
            ("v", _m(60), "other_key"),     # excluded: different key
        ],
        "k string, r_ts timestamp, tag string",
    )
    out = range_join_bucketed(
        left, right, on="k", window_seconds=30 * 60,
        left_ts="l_ts", right_ts="r_ts",
    )
    tags = sorted(r["tag"] for r in out.collect())
    assert tags == ["exact_lower", "exact_upper", "inside"]


def test_range_join_no_duplicate_pairs_across_buckets(spark):
    from aircraftutilization_etl_spark.operators.events import (
        range_join_bucketed,
    )

    # right event in the bucket adjacent to the left's own bucket must
    # appear exactly once despite the 3-bucket candidate explode
    left = spark.createDataFrame(
        [("u", _m(59), "L")], "k string, l_ts timestamp, name string"
    )
    right = spark.createDataFrame(
        [("u", _m(61), "R")], "k string, r_ts timestamp, tag string"
    )
    out = range_join_bucketed(
        left, right, on="k", window_seconds=30 * 60,
        left_ts="l_ts", right_ts="r_ts",
    )
    assert out.count() == 1


def test_cooccurrence_pairs_counts_keys_not_events(spark):
    from aircraftutilization_etl_spark.operators.events import (
        cooccurrence_pairs,
    )

    rows = [
        # u1 clicks twice + buys: the repeat click must not inflate counts
        (1, "click"), (1, "click"), (1, "buy"),
        (2, "click"), (2, "buy"), (2, "view"),
        (3, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id long, item string")
    got = {
        (r["item_a"], r["item_b"]): r["n_keys"]
        for r in cooccurrence_pairs(df, "user_id", "item").collect()
    }
    assert got == {
        ("buy", "click"): 2,
        ("buy", "view"): 1,
        ("click", "view"): 1,
    }


def test_cooccurrence_plan_is_two_exchanges_no_join(spark):
    """One shuffle to per-key sets + one to count pairs; pair generation
    is map-side (no self-join)."""
    from aircraftutilization_etl_spark.operators.events import (
        cooccurrence_pairs,
    )

    df = spark.createDataFrame(
        [(i % 5, f"t{i % 3}") for i in range(50)],
        "user_id long, item string",
    )
    plan = (
        cooccurrence_pairs(df, "user_id", "item")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Join" not in plan


class TestResampleFfill:
    def _series(self, spark):
        import datetime as dt

        rows = [
            # user 1: obs at 00h (v=1.0), gap 01h-02h, obs at 03h (v=4.0)
            (1, dt.datetime(2024, 1, 1, 0, 10), 1, 1.0),
            (1, dt.datetime(2024, 1, 1, 3, 5), 2, 4.0),
            # user 1, two events in hour 03: later ts wins
            (1, dt.datetime(2024, 1, 1, 3, 50), 3, 5.0),
            # user 2: single observation -> single-bucket grid
            (2, dt.datetime(2024, 1, 1, 7, 0), 4, 9.0),
        ]
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, value double"
        )

    def test_gaps_filled_and_last_in_bucket_wins(self, spark):
        from aircraftutilization_etl_spark.operators.events import (
            resample_ffill,
        )

        out = resample_ffill(
            self._series(spark), "user_id", "ts", "value", "event_id"
        )
        got = {
            (r["user_id"], r["bucket_ts"].hour): (
                r["value_ffill"],
                r["is_observed"],
            )
            for r in out.collect()
        }
        assert got == {
            (1, 0): (1.0, 1),
            (1, 1): (1.0, 0),   # gap: carried forward
            (1, 2): (1.0, 0),   # gap: carried forward
            (1, 3): (5.0, 1),   # later event in the bucket wins
            (2, 7): (9.0, 1),
        }

    def test_tie_on_ts_breaks_by_event_id(self, spark):
        import datetime as dt

        from aircraftutilization_etl_spark.operators.events import (
            resample_ffill,
        )

        t = dt.datetime(2024, 1, 1, 0, 0)
        df = spark.createDataFrame(
            [(1, t, 10, 3.0), (1, t, 11, 7.0)],
            "user_id long, ts timestamp, event_id long, value double",
        )
        out = resample_ffill(df, "user_id", "ts", "value", "event_id")
        assert out.collect()[0]["value_ffill"] == 7.0

    def test_plan_one_exchange_no_join(self, spark):
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.operators.events import (
            resample_ffill,
        )

        out = resample_ffill(
            self._series(spark), "user_id", "ts", "value", "event_id"
        )
        assert count_exchanges(out) == 1
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan


def test_resample_interpolate_hand_series(spark):
    from datetime import datetime

    from aircraftutilization_etl_spark.operators.events import (
        resample_interpolate,
    )

    rows = [
        (1, datetime(2024, 1, 1, 0, 30), 7, 10.0),
        (1, datetime(2024, 1, 1, 3, 10), 8, 40.0),  # 3-hour gap: 2 fills
        (1, datetime(2024, 1, 1, 4, 20), 9, 20.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts timestamp, event_id int, value double"
    )
    out = {
        (r["user_id"], r["bucket_ts"].hour): r
        for r in resample_interpolate(
            df, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    assert out[(1, 0)]["value_interp"] == 10.0
    assert out[(1, 0)]["is_observed"] == 1
    # linear between 10@h0 and 40@h3: 20 at h1, 30 at h2
    assert out[(1, 1)]["value_interp"] == 20.0
    assert out[(1, 1)]["is_observed"] == 0
    assert out[(1, 2)]["value_interp"] == 30.0
    assert out[(1, 3)]["value_interp"] == 40.0
    assert out[(1, 4)]["value_interp"] == 20.0
    assert len(out) == 5


class TestEwma:
    def test_recurrence_exact(self, spark):
        from aircraftutilization_etl_spark.operators.events import ewma

        df = spark.createDataFrame(
            [(1, 1, 1, 4.0), (1, 2, 2, 8.0), (1, 3, 3, 0.0), (2, 1, 4, 2.0)],
            "user_id long, ts long, event_id long, value double",
        )
        out = {
            (r.user_id, r.ts): r.ewma
            for r in ewma(df, "user_id", "ts", "value", "event_id").collect()
        }
        assert out[(1, 1)] == 4.0
        assert out[(1, 2)] == 0.75 * 4.0 + 0.25 * 8.0
        assert out[(1, 3)] == 0.75 * (0.75 * 4.0 + 0.25 * 8.0)
        assert out[(2, 1)] == 2.0

    def test_tiebreak_orders_equal_timestamps(self, spark):
        from aircraftutilization_etl_spark.operators.events import ewma

        df = spark.createDataFrame(
            [(1, 5, 2, 100.0), (1, 5, 1, 0.0)],
            "user_id long, ts long, event_id long, value double",
        )
        out = {
            r.event_id: r.ewma
            for r in ewma(df, "user_id", "ts", "value", "event_id").collect()
        }
        # event 1 first (tiebreak), event 2 smoothed from it
        assert out[1] == 0.0
        assert out[2] == 25.0

    def test_partitioning_invariant(self, spark):
        from aircraftutilization_etl_spark.operators.events import ewma

        df = spark.range(200).selectExpr(
            "id % 7 AS user_id", "id AS ts", "id AS event_id",
            "CAST(pmod(id * 13, 97) AS DOUBLE) AS value",
        )
        a = {tuple(r) for r in ewma(df, "user_id", "ts", "value", "event_id").collect()}
        b = {
            tuple(r)
            for r in ewma(df.repartition(11), "user_id", "ts", "value", "event_id").collect()
        }
        assert a == b


class TestOHLCBars:
    def test_known_bars_with_ts_ties(self, spark):
        from pyspark.sql import functions as F

        from aircraftutilization_etl_spark.operators.events import ohlc_bars

        rows = [
            # (event_id, ts, key, value) — two events share the opening
            # timestamp: the lower event_id must win "open"
            (1, "2024-01-01 10:00:00", "k", 5.0),
            (2, "2024-01-01 10:00:00", "k", 9.0),
            (3, "2024-01-01 10:30:00", "k", 1.0),
            (4, "2024-01-01 10:59:00", "k", 7.0),
            (5, "2024-01-01 11:05:00", "k", 2.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts_s string, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))
        out = {
            (r.event_type, r.bucket.hour): r
            for r in ohlc_bars(df, "event_type", "ts", "value").collect()
        }
        bar = out[("k", 10)]
        assert (bar.open, bar.high, bar.low, bar.close, bar.n_events) == (
            5.0,
            9.0,
            1.0,
            7.0,
            4,
        )
        assert out[("k", 11)].open == out[("k", 11)].close == 2.0


class TestMultiTouchAttribution:
    def _events(self, spark, rows):
        from pyspark.sql import functions as F

        return spark.createDataFrame(
            rows, "event_id long, ts_s string, user_id long, event_type string, value double"
        ).withColumn("ts", F.col("ts_s").cast("timestamp"))

    def test_credits_sum_to_value_with_remainder_to_first(self, spark):
        from aircraftutilization_etl_spark.operators.events import (
            multi_touch_attribution,
        )

        df = self._events(
            spark,
            [
                (1, "2024-01-01 09:00:00", 7, "click", 0.0),
                (2, "2024-01-01 10:00:00", 7, "click", 0.0),
                (3, "2024-01-01 11:00:00", 7, "click", 0.0),
                (4, "2024-01-01 12:00:00", 7, "purchase", 1.00),
            ],
        )
        out = sorted(
            (r.touch_id, r.credit_cents)
            for r in multi_touch_attribution(
                df, "user_id", "click", "purchase", 6 * 3600
            ).collect()
        )
        # 100 cents over 3 touches: 34 to the earliest, 33 + 33 after
        assert out == [(1, 34), (2, 33), (3, 33)]

    def test_lookback_window_is_one_sided_and_bounded(self, spark):
        from aircraftutilization_etl_spark.operators.events import (
            multi_touch_attribution,
        )

        df = self._events(
            spark,
            [
                (1, "2024-01-01 05:00:00", 7, "click", 0.0),  # too old
                (2, "2024-01-01 11:30:00", 7, "click", 0.0),  # in window
                (3, "2024-01-01 12:30:00", 7, "click", 0.0),  # after conv
                (4, "2024-01-01 12:00:00", 7, "purchase", 5.00),
                (5, "2024-01-01 11:00:00", 8, "click", 0.0),  # other user
            ],
        )
        out = multi_touch_attribution(
            df, "user_id", "click", "purchase", 6 * 3600
        ).collect()
        assert [(r.touch_id, r.credit_cents) for r in out] == [(2, 500)]

    def test_conversion_with_no_touches_emits_nothing(self, spark):
        from aircraftutilization_etl_spark.operators.events import (
            multi_touch_attribution,
        )

        df = self._events(
            spark, [(1, "2024-01-01 12:00:00", 7, "purchase", 9.99)]
        )
        assert (
            multi_touch_attribution(
                df, "user_id", "click", "purchase", 3600
            ).count()
            == 0
        )


class TestCusum:
    def test_recurrence_resets_and_alarms(self, spark):
        from pyspark.sql import functions as F

        from aircraftutilization_etl_spark.operators.events import cusum

        rows = [
            # user 7: values 30, 30, 5 with target+slack=20 ->
            # S: 10, 20, 5; alarm above 15 fires on the second row only
            (1, 1, 7, 30),
            (2, 2, 7, 30),
            (3, 3, 7, 5),
            # user 8 starts fresh (below drift -> clamped to 0)
            (4, 1, 8, 10),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, cents long"
        )
        out = {
            r.event_id: (r.cusum_cents, r.alarm)
            for r in cusum(
                df,
                key="user_id",
                ts_col="ts",
                value_cents_col="cents",
                tiebreak="event_id",
                target_cents=15,
                slack_cents=5,
                threshold_cents=15,
            ).collect()
        }
        assert out == {
            1: (10, False),
            2: (20, True),
            3: (5, False),
            4: (0, False),
        }

    def test_matches_scalar_replay_on_random_series(self, spark):
        import random

        from aircraftutilization_etl_spark.operators.events import cusum

        rng = random.Random(17)
        rows = [
            (i, rng.randint(1, 50), rng.choice([1, 2, 3]), rng.randint(0, 40))
            for i in range(300)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts long, user_id long, cents long"
        )
        got = {
            r.event_id: r.cusum_cents
            for r in cusum(
                df, "user_id", "ts", "cents", "event_id", 10, 5, 25
            ).collect()
        }
        state = {}
        expect = {}
        for e, t, u, c in sorted(rows, key=lambda r: (r[2], r[1], r[0])):
            s = max(0, state.get(u, 0) + c - 15)
            state[u] = s
            expect[e] = s
        assert got == expect
