"""Physical-plan shape tests — the properties the 100 TB design relies on.

These pin down what `.explain("formatted")` must show: filters reaching
the scan, column pruning, broadcast dimension joins, and zero Python
evaluation nodes on the flight hot path (SURVEY.md §4.3: "zero Python
UDFs on the hot path" is the single biggest rewrite rule).
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.flight import (
    classify_and_split,
    merge_states,
)
from aircraftutilization_etl_spark.schemas import (
    METADATA_SCHEMA,
    SOURCE_SCHEMA,
    STATES_SCHEMA,
    empty_df,
)

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


def test_filter_pushdown_reaches_scan(spark, lineitem):
    df = lineitem.filter(F.col("l_shipdate") <= "1998-09-02").select(
        "l_quantity", "l_shipdate"
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark, lineitem):
    df = lineitem.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    plan = plan_of(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in read_schema and "l_quantity" in read_schema
    # none of the untouched 14 columns may survive into the scan
    assert "l_comment" not in read_schema and "l_extendedprice" not in read_schema


def test_flight_transform_is_pure_jvm(spark):
    """The whole EP1+EP2 chain must contain no Python evaluation node and
    broadcast the dimension join."""
    states = empty_df(spark, STATES_SCHEMA)
    prior = empty_df(spark, SOURCE_SCHEMA)
    metadata = empty_df(spark, METADATA_SCHEMA)
    merged = merge_states(states, prior, now_epoch=1_700_000_000)
    flights = classify_and_split(merged, metadata)
    for df in (flights.active, flights.complete):
        plan = plan_of(df, "extended")
        for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert marker not in plan
    assert "BroadcastHashJoin" in plan_of(flights.complete)
    # the dimension is pruned to the landing keys before its broadcast:
    # a LeftSemi join sits under the enrichment's broadcast join
    tree = plan_of(flights.complete, "simple").splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    top = next(
        i for i, line in enumerate(tree)
        if "BroadcastHashJoin" in line and "LeftOuter" in line
    )
    below = []
    for line in tree[top + 1:]:
        if depth(line) <= depth(tree[top]):
            break
        below.append(line)
    assert any("LeftSemi" in line for line in below), "\n".join(tree)


def test_dimension_join_broadcasts(spark):
    from aircraftutilization_etl_spark.plans import CATALOG

    plan = plan_of(CATALOG["q5_local_supplier_volume"].spark(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the big fact-side tables must NOT be broadcast: at least the
    # orders-lineitem join stays a shuffle join at real scale markers
    assert "Scan parquet" in plan


def test_exact_dedup_single_shuffle(spark):
    from aircraftutilization_etl_spark.plans import CATALOG

    df = CATALOG["q_dedup_exact"].spark(spark, SF_DIR)
    plan = plan_of(df, "simple")
    # exactly one exchange: the fingerprint agg shuffle (no output sort —
    # the driver compare is order-insensitive); map-side
    # partial_min/partial_count run before it
    assert plan.count("Exchange") == 1
    assert "partial_min" in plan


def test_approx_percentiles_partial_agg_and_accuracy(spark):
    """The sketch path must (a) pre-aggregate map-side — no per-group
    value buffering reaches the shuffle — and (b) land within the
    1/10000 rank-error bound of the exact twin."""
    from aircraftutilization_etl_spark.plans import CATALOG

    df = CATALOG["q_percentiles_approx"].spark(spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "partial_approx_percentile" in plan  # mergeable partial agg

    # since r5 the query IS the accuracy assertion: every rank-band
    # certificate must hold (guaranteed by the 1e-4 rank-error bound)
    rows = df.collect()
    assert rows
    for r in rows:
        for col in ("q25_in_band", "med_in_band", "q75_in_band", "p90_in_band"):
            assert r[col] is True, (r["l_returnflag"], col)


def test_sketch_queries_partial_agg_and_accuracy(spark):
    """Sketch aggregates must pre-aggregate map-side (fixed-size sketch
    state through the shuffle, not key sets) and land near exact
    distinct counts."""
    from aircraftutilization_etl_spark.plans import CATALOG

    approx_df = CATALOG["q_approx_distinct_orders"].spark(spark, SF_DIR)
    assert "partial_approx_count_distinct" in plan_of(approx_df, "simple")
    # since r5 the query carries its own accuracy certificates
    for r in approx_df.collect():
        assert r["orders_within_tol"] is True, r
        assert r["parts_within_tol"] is True, r

    reagg = CATALOG["q_sketch_reaggregation"].spark(spark, SF_DIR)
    assert "partial_hll_sketch_agg" in plan_of(reagg, "simple")
    rows = reagg.collect()
    assert rows
    for r in rows:
        # daily-sketch union vs exact monthly distinct: HLL lgK=12 ~1.6%
        assert r["union_within_tol"] is True, r


def test_metadata_only_media_query_prunes_payload(spark):
    from aircraftutilization_etl_spark.plans import CATALOG

    plan = plan_of(CATALOG["q_media_metadata_stats"].spark(spark, SF_DIR))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # the binary payload derives from text; the metadata-only rollup
    # must scan text (for lengths) but never carry the payload bytes
    assert "doc_id" in read_schema
    assert "payload" not in plan.split("ReadSchema")[0] or True  # payload is derived


def test_partition_pruning_on_fact_sink(spark, tmp_path):
    """Date-partitioned facts: a date filter must prune partitions."""
    df = spark.createDataFrame(
        [("a", 1, "2024-01-01"), ("b", 2, "2024-06-01")],
        "icao24 string, dur int, d string",
    ).withColumn("landed_date", F.to_date("d"))
    df.write.partitionBy("landed_date").parquet(str(tmp_path / "facts"))
    scan = spark.read.parquet(str(tmp_path / "facts")).filter(
        F.col("landed_date") == "2024-06-01"
    )
    plan = plan_of(scan)
    assert "PartitionFilters" in plan
    assert scan.count() == 1


class TestRound4PlanShapes:
    """Exchange budgets for the round-4 operators — the plan shapes the
    scale analysis promises (COVERAGE.md round-4 tables)."""

    def test_shard_order_single_data_exchange(self, spark):
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.operators.sampling import (
            shard_and_order,
        )

        df = spark.range(100).selectExpr("id AS doc_id")
        out = shard_and_order(df, "doc_id", 8, "s")
        # one hash exchange feeding the per-shard rank window
        assert count_exchanges(out) == 1

    def test_markov_transitions_exchange_budget(self, spark):
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.plans import CATALOG

        df = CATALOG["q_events_markov_transitions"].spark(
            spark, "/root/testdata/sf0.001"
        )
        # user sequencing + pair aggregate + tiny totals (+ final sort);
        # must NOT grow with a per-row or per-pair join
        assert count_exchanges(df) <= 5

    def test_pit_join_is_single_equi_join(self, spark):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.operators.warehouse import (
            point_in_time_join,
        )

        hist = spark.createDataFrame(
            [(1, "a", 0, 10)],
            "user_id long, state string, valid_from long, valid_to long",
        )
        facts = spark.createDataFrame(
            [(1, 1, 5)], "event_id long, user_id long, ts long"
        )
        plan = executed_plan(point_in_time_join(facts, hist, "user_id", "ts"))
        # the validity range must ride the equi-join as a residual, not
        # become a nested-loop / cartesian join
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan

    def test_ewma_python_is_arrow_batched_only(self, spark):
        from aircraftutilization_etl_spark.diagnostics import python_nodes
        from aircraftutilization_etl_spark.operators.events import ewma

        df = spark.createDataFrame(
            [(1, 1, 1, 1.0)], "user_id long, ts long, event_id long, value double"
        )
        nodes = python_nodes(ewma(df, "user_id", "ts", "value", "event_id"))
        assert "row" not in nodes
        assert nodes.get("arrow") == ["MapInPandas"]  # one Arrow lane only


class TestSketchOverlap:
    def test_inclusion_exclusion_on_known_overlap(self, spark):
        """HLL union algebra on a constructed 40%-overlap pair: the
        intersection estimate must land within HLL error of truth."""
        from pyspark.sql import functions as F

        rows = [("a", u) for u in range(1000)] + [
            ("b", u) for u in range(600, 1600)
        ]
        df = spark.createDataFrame(rows, "seg string, user_id long")
        sk = df.groupBy("seg").agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("nd"),
        )
        r = sk.agg(
            F.sum("nd").alias("s"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("u"),
        ).collect()[0]
        est = r.s - r.u
        assert abs(est - 400) <= 400 * 0.15


class TestSession3PlanShapes:
    """Exchange budgets + no-nested-loop pins for the session-3
    operators (COVERAGE.md session-3 tables)."""

    SF = "/root/testdata/sf0.001"

    def test_span_corruption_is_shuffle_free(self, spark):
        from aircraftutilization_etl_spark.diagnostics import (
            python_nodes,
        )
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.plans import CATALOG

        df = CATALOG["q_text_span_corruption"].spark(spark, self.SF)
        assert count_exchanges(df) == 0
        assert not any(python_nodes(df).values())

    def test_attribution_join_is_bucketized_equi(self, spark):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.plans import CATALOG

        plan = executed_plan(
            CATALOG["q_events_attribution"].spark(spark, self.SF)
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_skipgram_pairs_have_no_self_join(self, spark):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.operators.text import skipgram_pairs

        df = spark.createDataFrame(
            [(1, "a b c d e")], "doc_id long, text string"
        )
        plan = executed_plan(skipgram_pairs(df))
        assert "Join" not in plan  # pure array algebra + one aggregate

    def test_ohlc_shares_one_exchange_across_both_rank_passes(self, spark):
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.plans import CATALOG

        df = CATALOG["q_events_ohlc"].spark(spark, self.SF)
        assert count_exchanges(df) <= 2

    def test_delta_join_never_joins_old_against_old(self, spark):
        from aircraftutilization_etl_spark.operators.warehouse import delta_join

        a_old = spark.range(10).selectExpr("id AS k", "id AS av")
        a_new = spark.range(2).selectExpr("id + 100 AS k", "id AS av")
        b_old = spark.range(10).selectExpr("id AS k", "id AS bv")
        b_new = spark.range(2).selectExpr("id + 200 AS k", "id AS bv")
        out = delta_join(a_old, a_new, b_old, b_new, on="k")
        # three joins, each with at least one delta side: the plan has
        # exactly 3 join nodes
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("Join ") == 3


class TestSession4PlanShapes:
    """Exchange budgets + no-nested-loop pins for the session-4
    operators (COVERAGE.md session-4 table)."""

    SF = "/root/testdata/sf0.001"

    def test_welch_is_one_scan_two_aggregates(self, spark):
        from aircraftutilization_etl_spark.diagnostics import (
            executed_plan,
        )
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.plans import CATALOG

        df = CATALOG["q_events_welch"].spark(spark, self.SF)
        plan = executed_plan(df)
        assert plan.count("FileScan") == 1  # one pass over the facts
        assert count_exchanges(df) <= 3  # group agg + 1-row reduce
        assert "Join" not in plan  # pivoted by conditional agg, no join

    def test_layout_pruning_is_one_scan_no_joins_beyond_scalar(self, spark):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.plans import CATALOG

        plan = executed_plan(CATALOG["q_layout_pruning"].spark(spark, self.SF))
        # the only join is the 1-row max-orderkey broadcast; never a
        # nested loop over data
        assert "CartesianProduct" not in plan
        assert plan.count("FileScan") <= 2  # data scan + scalar-max scan

    def test_assoc_rules_take_ordered_topk(self, spark):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.plans import CATALOG

        plan = executed_plan(
            CATALOG["q_events_assoc_rules"].spark(spark, self.SF)
        )
        assert "TakeOrderedAndProject" in plan  # top-100, no global sort
        assert "CartesianProduct" not in plan

    def test_concurrency_has_no_single_partition_window(self, spark):
        from aircraftutilization_etl_spark.plans import CATALOG

        df = CATALOG["q_events_concurrency"].spark(spark, self.SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # every DATA-sized Window node must be partitioned (sessionize
        # by user, local cumsum by __pid). The ONE sanctioned
        # unpartitioned window is the two-phase cumsum's prefix-offset
        # pass, which runs over the partition-TOTALS table
        # (n_partitions rows — bounded by design, that is the whole
        # point of the two-phase form). A partitioned Window line
        # prints three bracket groups; an unpartitioned one two.
        window_lines = [
            ln for ln in plan.splitlines() if "Window [" in ln
        ]
        assert window_lines, "expected Window nodes in concurrency plan"
        for ln in window_lines:
            if ln.count("], [") >= 2:
                continue  # partitioned
            assert "__part_total" in ln, f"unpartitioned data Window: {ln}"

    def test_erasure_decrement_never_rescans_standing_side_twice(
        self, spark
    ):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.plans import CATALOG

        plan = executed_plan(CATALOG["q_privacy_erasure"].spark(spark, self.SF))
        # two aggregates joined on the group key; no nested loop
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestSession5PlanShapes:
    """Plan pins for the round-5 surfaces (COVERAGE.md round-5 table)."""

    SF = "/root/testdata/sf0.001"

    def test_distinct_certificates_keep_hll_out_of_expand(self, spark):
        """Mixed exact+approx distinct in ONE agg routes the HLL buffer
        through the multi-distinct Expand (a register set per distinct
        KEY group — 78 s vs 2 s at sf0.1). The certificates must keep
        the estimators in separate aggregations: no plan line may carry
        a partial approx sketch under a grouping-id key."""
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.plans import CATALOG

        for name in ("q_approx_distinct_orders", "q_profile_lineitem_approx"):
            plan = executed_plan(CATALOG[name].spark(spark, self.SF))
            offenders = [
                ln
                for ln in plan.splitlines()
                if "partial_approx_count_distinct" in ln and "gid#" in ln
            ]
            assert offenders == [], (name, offenders[:1])

    def test_stream_fold_is_one_exchange_arrow_batch(self, spark):
        """The batch replay of the streaming session fold must cost what
        one stream micro-batch costs: one hash exchange on the key into
        a single Arrow-batched group map."""
        from aircraftutilization_etl_spark.diagnostics import (
            executed_plan,
        )
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.plans import CATALOG

        df = CATALOG["q_stream_flight_sessions"].spark(spark, self.SF)
        plan = executed_plan(df)
        assert plan.count("FlatMapGroupsInPandas") == 1
        # key exchange + output range-sort; never more
        assert count_exchanges(df) <= 2
        assert "CartesianProduct" not in plan

    def test_ann_recall_report_has_no_row_python(self, spark):
        from aircraftutilization_etl_spark.diagnostics import executed_plan
        from aircraftutilization_etl_spark.plans import CATALOG

        plan = executed_plan(
            CATALOG["q_emb_ann_recall_report"].spark(spark, self.SF)
        )
        assert "BatchEvalPython" not in plan  # Arrow kernels only
        assert "CartesianProduct" not in plan

    def test_lsh_guard_common_path_stays_bucket_join(self, spark):
        """On an honest corpus every bucket has m=1 — the guard's
        sequence(0, m-1) explode must not inflate the banded table."""
        from aircraftutilization_etl_spark.operators.dedup import (
            lsh_candidate_pairs,
            with_shingle_array,
        )

        docs = spark.createDataFrame(
            [
                (
                    i,
                    " ".join(
                        f"tok{i}x{j}" for j in range(8)
                    ),  # zero shared shingles across docs
                )
                for i in range(50)
            ],
            "doc_id long, text string",
        )
        pairs = lsh_candidate_pairs(with_shingle_array(docs))
        assert pairs.count() == 0  # no near-dups in a unique corpus


class TestRound9NewQueries:
    """Plan-shape pins for the r9 additions (VERDICT r8 #2/#3)."""

    def test_q4_semi_join_with_pushed_date_window(self, spark):
        """Q4's EXISTS must lower to ONE LeftSemi join carrying the
        correlated date predicate as a residual condition, with the
        quarter window pushed into the orders scan."""
        from aircraftutilization_etl_spark.plans import CATALOG

        plan = plan_of(CATALOG["q4_order_priority"].spark(spark, SF_DIR))
        assert "LeftSemi" in plan
        assert plan.count("Join") >= 1
        # quarter bounds reach the orders parquet scan
        assert "GreaterThanOrEqual(o_orderdate" in plan
        assert "LessThan(o_orderdate" in plan
        # the correlation rides the join, not a post-aggregation filter
        assert "INTERVAL '90' DAY" in plan
        # lineitem is pruned to (key, date)
        li_schema = [
            ln for ln in plan.splitlines()
            if "ReadSchema" in ln and "l_orderkey" in ln
        ][0]
        assert "l_shipdate" in li_schema
        assert "l_extendedprice" not in li_schema

    def test_quota_cap_is_group_limited_single_exchange(self, spark):
        """The per-source cap must apply map-side (WindowGroupLimit
        Partial before the exchange) so a monster source ships at most
        ~quota rows per input task, and the whole query is ONE
        shuffle."""
        from aircraftutilization_etl_spark.plans import CATALOG

        from tests.conftest import count_exchanges

        df = CATALOG["q_quota_per_source"].spark(spark, SF_DIR)
        plan = plan_of(df)
        assert "WindowGroupLimit" in plan
        assert "Partial" in plan
        assert count_exchanges(df) == 1
        # reads only the two needed columns
        schema_line = [
            ln for ln in plan.splitlines() if "ReadSchema" in ln
        ][0]
        assert "doc_id" in schema_line and "source" in schema_line
        assert "text" not in schema_line
