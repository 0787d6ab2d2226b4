#!/usr/bin/env python
"""Benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "sf": ..., "n_queries": N}

The stdout line is BOUNDED regardless of catalog size: the driver
tail-captures only the last 2000 chars of output, and an unbounded
per-query dict broke its parser twice (BENCH_r07, BENCH_r09 both
parsed:null — VERDICT r9 #1). r12 (VERDICT r11 #2): the driver's
round-over-round PERF comparison needs per-query seconds in that tail
(PERF_r11 read n_common: 0 because they rode only stderr/side files and
were tail-truncated), so the stdout line carries a COMPACT per-query
dict again — same keys, seconds rounded to ~3 significant digits,
compact separators — but ONLY while the whole line fits a hard
TAIL_BUDGET (< 2000); past the budget the dict is dropped and the line
degrades to the bounded r10/r11 form rather than ever re-breaking the
parser. Full-precision per-query seconds, errors and the sentinel noise
block still ride the side file(s) and stderr.

Each query executes fully via the noop sink (no driver collect overhead);
times are per-query wall seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",  # pure scan+agg: measures pushdown, no shuffle
    "q8_market_share",
    "q9_product_type_profit",  # widest snowflake in the suite
    "q18_large_volume_customers",
    "q4_order_priority",  # r9: correlated-EXISTS semi join, pushed window
    "q_top_customers_per_nation",
    "q_grouping_sets_revenue",
    # r5: the approx entry became a self-auditing certificate (computes
    # exact band edges too — 3.5x its old cost by design); bench the
    # exact group-sort percentile path instead, which is the costlier
    # production-relevant shape of the two
    "q_percentiles_quantity",
    "q_full_outer_merge",
    "q_skew_salted_join",
    "q_bloom_prune_join",  # runtime-filter pruning before the join shuffle
    "q_events_sessionize",
    "q_events_asof_last_click",
    "q_events_hourly_window",
    "q_events_resample_ffill",  # gap-fill: 1-exchange lead+explode form
    "q_text_bm25_topk",  # postings-broadcast lexical retrieval
    "q_text_boilerplate",  # shingle common-set broadcast probe
    "q_sample_temperature",  # sqrt-weighted quota resampling
    "q_quota_per_source",  # r9: per-source cap, map-side group limit
    "q_quota_budget_allocation",  # r9: exact-N largest-remainder cut
    "q_flight_status_kernel",
    "q_dedup_exact",
    "q_dedup_minhash_lsh",
    "q_text_quality",
    "q_emb_cosine_topk",
    "q_emb_near_dup_pairs",
    "q_emb_pq_topk",  # PQ-ADC: broadcast LUTs over 4-byte codes
    "q_text_dsir_weights",  # one-pass dual unigram models + vocab join
    "q_stats_regression",  # mergeable moment sketches (CORR/REGR_*)
    "q_events_moving_avg",  # calendar RANGE frame over pre-agg days
    "q_media_feature_extract",
    "q_curation_funnel",  # flagship: 4-stage curation in one plan
    "q_graph_pagerank",  # iterative: 5 synchronous shuffle rounds
    "q_emb_kmeans",  # iterative: broadcast-assign + k*d-group updates
    "q_pack_sequences",  # applyInPandas per-bucket linear pass
    "q_contamination_report",  # broadcast benchmark-shingle probe
    "q_chunk_documents_gear",  # production CDC: gear-hash mapInPandas
    "q_shard_order",  # seeded shard shuffle: the partitioned-writer plan
    "q_mix_epochs",  # fractional-epoch replication via map-side posexplode
    "q_histogram_price",  # exact equi-depth via two-phase global rank
    "q_contamination_semantic",  # map-only GEMM best-match vs broadcast refs
    "q_dedup_simhash_pairs",  # banded Hamming pigeonhole join
    "q_events_ewma",  # per-key sequential smoothing (applyInPandas)
    "q_scd2_point_in_time",  # temporal join: equi-key + validity residual
    "q_dedup_substring_spans",  # positional dedup: count+join, islands merge
    "q_hybrid_rrf",  # BM25 + cosine rank fusion, top-k-bounded merge
    "q_cms_user_counts",  # count-min build (map-side) + broadcast probe
    "q_sample_weighted",  # A-ES keys map-side + TakeOrderedAndProject
    "q_text_span_corruption",  # zero-shuffle per-row mask algebra
    "q_delta_join_view",  # incremental view: delta-sided joins only
    "q_split_temporal",  # when() labels + one user-keyed audit shuffle
    "q_drift_ks",  # distinct-value collapse + two-phase signed cumsum
    "q_events_ohlc",  # one (key, hour) shuffle shared by both rank passes
    "q_text_skipgram_pairs",  # per-row pair algebra + one pair-count shuffle
    "q_events_attribution",  # bucketized one-sided lookback join
    "q_geo_proximity",  # 9-cell spatial equi-join, candidates-only verify
    "q_geo_track_length",  # one track-keyed window pass
    "q_text_naive_bayes",  # closed-form training: two count aggs, JVM only
    "q_layout_pruning",  # 3 layouts' bucket ids as bit-algebra on one scan
    "q_events_concurrency",  # sweep-line peaks via two-phase global cumsum
    "q_emb_pq_rerank",  # two-stage ANN: ADC overfetch + exact rerank
    "q_scd2_apply",  # incremental SCD2: delta-sized window, history untouched
    "q_revenue_gini",  # global cumsum + rank in one two-phase pass
    "q_stream_flight_sessions",  # per-key Arrow fold = one stream micro-batch
    # r6: the on-engine training loop — 6 integer-GD rounds, each one
    # broadcast-scoring pass + one bucket-keyed BIGINT gradient shuffle
    "q_quality_classifier",
    # r10: the one heavy dedup operator with no timing trend until now —
    # rare-q-gram candidate join (ultra-frequent grams dropped) + exact
    # levenshtein verify (VERDICT r9 #7)
    "q_dedup_edit_distance",
    # (q_dedup_minhash_lsh — the chunk guard's cold/plain regime — has
    # been a headline entry since r2, line above; simhash covers the
    # hot/chunked regime, so both guard paths carry a timing trend)
    # r11: the URL/domain curation family's heavy member — synthesized
    # URL build + canonicalization + registrable domain + md5-rank
    # window + broadcast Hamilton filter in one plan
    "q_domain_quota",
]


# Host-noise sentinels (VERDICT r6 #4): queries whose code has been
# frozen for several rounds, re-measured every bench run and compared to
# the PREVIOUS round's BENCH_r*.json so a uniform host slowdown (r5
# 0.93x, r6 1.26x — both environment, verified by re-running unchanged
# code) is machine-separable from a code regression. Editing any
# sentinel's plan invalidates the ratio — swap it out here in the same
# change.
# Frozen-plan noise sentinels. INVARIANT: a sentinel's PLAN must never
# change between rounds (that's what makes its cur/prev ratio a pure
# host-speed signal) — if a round edits one, swap it out in the same
# change. r8 swapped q1_pricing_summary and q_bloom_prune_join (both
# converted to exact-cents summation) for two plan-untouched windows.
# r10 widened 5 → 10 (VERDICT r9 #4): a median over 5 readings with
# spread 1.15-1.83 was thin; the set now spans scan+agg (q6), hash agg
# (q1, stable since its r8 exact-cents form), broadcast join (q5),
# window rank (top_customers), global sort percentile, streaming-twin
# window agg (events_hourly), text kernel, dedup hash-group, Arrow/GEMM
# lane (emb_cosine), and iterative shuffle rounds (pagerank).
# r12 rotation (VERDICT r11 #7): q_graph_pagerank and q_text_quality
# left the set — both carried known single-task stages (the
# co-occurrence pair explode, the quality kernel on a one-split scan)
# that the frozen-plan contract had made unoptimizable — and this
# round restructures them. Swapped in: q_events_sessionize (per-key
# window pass) and q_scd2_point_in_time (temporal join), both
# plan-untouched for several rounds and left strictly alone this
# round. NOTE for r12 ratio readers: this round also cut FIXED driver
# plan-build cost shared by every query (schema/expression memos), so
# the r12-vs-basis sentinel ratio reads host-speed x shared-driver-
# cost-improvement, not host speed alone — the honest code-speed
# comparison for r12 is the back-to-back old-HEAD vs new-HEAD bench
# in OPTIMIZATION_r12.md; the basis committed at r12 end resets the
# signal for later rounds.
SENTINELS = (
    "q_top_customers_per_nation",
    "q_percentiles_quantity",
    "q_events_sessionize",
    "q_dedup_exact",
    "q_scd2_point_in_time",
    "q1_pricing_summary",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q_events_hourly_window",
    "q_emb_cosine_topk",
)


def _payload_queries(payload) -> tuple[dict[str, float] | None, object]:
    """(per-query seconds, sf) from one BENCH payload. Driver-written
    files wrap bench's JSON line in a ``tail`` string (with progress
    control chars before it); raw bench output carries ``queries``
    directly."""
    if not isinstance(payload, dict):
        return None, None
    inner = payload
    if not isinstance(payload.get("queries"), dict):
        tail = payload.get("tail")
        start = tail.rfind('{"metric"') if isinstance(tail, str) else -1
        if start < 0:
            return None, None
        try:
            inner, _ = json.JSONDecoder().raw_decode(tail[start:])
        except ValueError:
            return None, None
        if not isinstance(inner, dict):
            return None, None
    queries = inner.get("queries")
    if not (isinstance(queries, dict) and queries):
        return None, None
    # the wrapper's sf (driver-recorded) wins over the inner line's
    sf = payload.get("sf", inner.get("sf"))
    return queries, sf


def _prev_bench_queries(
    bench_dir: str | None = None,
) -> tuple[str | None, dict[str, float] | None, object]:
    """(filename, per-query seconds, sf) for the sentinel basis.

    The committed BENCH_SENTINELS.json is the deliberate basis (it is
    advanced only under --commit-sentinels, VERDICT r8 #4) and is
    preferred when readable; the newest readable BENCH_r*.json is the
    legacy fallback — necessary since r10, because BENCH_r10+ driver
    files no longer carry a per-query dict at all (the bounded stdout
    line, VERDICT r9 #1). (None, None, None) on a fresh checkout."""
    import glob
    import re

    here = bench_dir or os.path.dirname(os.path.abspath(__file__))
    basis = os.path.join(here, "BENCH_SENTINELS.json")
    try:
        with open(basis, encoding="utf-8") as fh:
            payload = json.load(fh)
    except (OSError, ValueError):
        payload = None
    queries, sf = _payload_queries(payload)
    if queries:
        return os.path.basename(basis), queries, sf
    # match-then-sort: a stray 'BENCH_r6_retry.json' satisfies the glob
    # but not the round pattern — skip it rather than dying on .group()
    # after the whole multi-minute bench run has already executed
    numbered = []
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            numbered.append((int(m.group(1)), p))
    files = [p for _, p in sorted(numbered)]
    for path in reversed(files):
        try:
            with open(path, encoding="utf-8") as fh:
                payload = json.load(fh)
        except (OSError, ValueError):
            continue
        queries, sf = _payload_queries(payload)
        if queries:
            return os.path.basename(path), queries, sf
    return None, None, None


def _sentinel_fields(per_query: dict[str, float], sf: object) -> dict:
    """The noise-normalization block: current sentinel seconds, the
    previous round's, and the median ratio. Median (not mean) so one
    sentinel hitting a transient stall cannot fake a host shift. The
    ratio is only emitted when the previous bench ran at the SAME scale
    factor — a cross-sf ratio measures data growth, not the host."""
    prev_file, prev, prev_sf = _prev_bench_queries()
    same_sf = prev is not None and prev_sf == sf
    sentinels = {}
    ratios = []
    for name in SENTINELS:
        cur = per_query.get(name)
        old = prev.get(name) if prev else None
        entry = {"sec": cur, "prev_sec": old}
        if cur and old and same_sf:
            entry["ratio"] = round(cur / old, 3)
            ratios.append(cur / old)
        sentinels[name] = entry
    ratios.sort()
    n = len(ratios)
    median = (
        round((ratios[(n - 1) // 2] + ratios[n // 2]) / 2, 3) if n else None
    )
    return {
        "sentinels": sentinels,
        "sentinel_ratio_vs_prev": median,
        "sentinel_prev_bench": prev_file,
    }


# Hard stdout budget: the driver tail-captures the last 2000 chars of
# combined output; the stdout JSON line is printed LAST, so it survives
# whole iff its own length stays under the capture window (a truncated
# line is exactly the r7/r9 parsed:null failure). 70 queries at current
# name lengths render ~1950 chars with the compact encoding below.
TAIL_BUDGET = 1990


def _compact_seconds(v: float):
    """Seconds at ~3 significant digits, never more than 4 chars for
    values under 100 s — per-query resolution for the driver's PERF
    comparison at a bounded byte cost (full 3-decimal values stay in
    the side file)."""
    if v >= 100:
        return int(round(v))
    if v >= 10:
        return round(v, 1)
    return round(v, 2)


def _assemble_payloads(
    per_query: dict[str, float], errors: dict[str, str], sf_dir: str
) -> tuple[dict, dict]:
    """(stdout payload, side-file payload). The stdout payload MUST
    stay driver-parseable AND bounded: the driver tail-captures only
    the last 2000 chars, and the per-query dict grew past that twice
    (BENCH_r07, BENCH_r09 — both parsed:null). stdout carries
    metric/value/unit/sf/n_queries — plus partial_total/n_errors when a
    query failed (value nulled so a partial total can never be mistaken
    for a speedup) — and, since r12 (VERDICT r11 #2), a COMPACT
    per-query dict appended ONLY while the whole compact line fits
    TAIL_BUDGET, so the driver's round-over-round comparison gets
    per-query seconds without the line ever outgrowing the capture
    window again (a catalog too big for the budget degrades to the
    bounded r10/r11 form, never to a truncated line). Full-precision
    per-query seconds, error details, and the sentinel noise block ride
    the side file(s) and stderr."""
    total = round(sum(per_query.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(per_query),
    }
    side = {"queries": per_query}
    side.update(_sentinel_fields(per_query, payload["sf"]))
    if errors:
        payload["value"] = None
        payload["partial_total"] = total
        payload["n_errors"] = len(errors)
        side["errors"] = errors
    trial = dict(payload)
    trial["queries"] = {
        k: _compact_seconds(v) for k, v in per_query.items()
    }
    if len(json.dumps(trial, separators=(",", ":"))) <= TAIL_BUDGET:
        payload = trial
    return payload, side


def _sentinel_targets(argv: list[str]) -> list[str]:
    """Side-file paths for the sentinel block. Default is ONLY the
    untracked .bench_sentinels.json (gitignored), so a driver-initiated
    bench run can never dirty the working tree — the r8 driver run
    overwrote the committed basis file silently (VERDICT r8 §wrong #1).
    The committed BENCH_SENTINELS.json is appended only under an
    explicit, deliberate ``--commit-sentinels``."""
    here = os.path.dirname(os.path.abspath(__file__))
    targets = [os.path.join(here, ".bench_sentinels.json")]
    if "--commit-sentinels" in argv:
        targets.append(os.path.join(here, "BENCH_SENTINELS.json"))
    return targets


def _parse_args(argv: list[str]):
    """Minimal argparse so a misspelled flag fails LOUDLY instead of
    silently skipping the committed-sentinel write (ADVICE r9)."""
    import argparse

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument(
        "--commit-sentinels",
        action="store_true",
        help="additionally advance the committed BENCH_SENTINELS.json "
        "basis (deliberate act; a plain run writes only the gitignored "
        ".bench_sentinels.json side file)",
    )
    return ap.parse_args(argv)


def bench_session(ui: bool = False):
    """The engine's own tuned builder (AQE + skew-join + Arrow lanes +
    128 MB scan splits) on local[$SPARK_GRAFT_CPUS] — measured ~25%
    faster across the headline set than a minimal hand-rolled conf, and
    keeps bench aligned with what the engine recommends for production.
    ``ui`` turns on the Spark UI (and its REST API) for stage dumps."""
    from aircraftutilization_etl_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name="aircraftutilization-etl-spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "true" if ui else "false",
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, sf_dir: str) -> None:
    """Untimed warm-up: JVM/codegen on the smallest table, plus the
    Python worker pool + Arrow lanes that the first Pandas-UDF query
    would otherwise pay for (~4 s of pure process startup)."""
    from aircraftutilization_etl_spark.plans import CATALOG

    cpus = spark.sparkContext.defaultParallelism
    CATALOG["q1_pricing_summary"].spark(spark, sf_dir).write.mode(
        "overwrite"
    ).format("noop").save()
    spark.range(cpus).repartition(cpus).mapInPandas(
        lambda it: it, "id long"
    ).write.mode("overwrite").format("noop").save()


def timed_rep(spark, qd, sf_dir: str) -> float:
    """Wall seconds of one noop-sink execution of catalog query ``qd``,
    built and run inside one cache scope: every cache the build makes is
    read by the action and released when the scope exits, so nothing
    leaks into the rerun. The JVM GC first lets the ContextCleaner
    release prior runs' unreferenced blocks (weak-ref cleanup only fires
    after a collection — without it, storage-memory pressure from dead
    blocks taxes persist-heavy queries)."""
    from aircraftutilization_etl_spark.operators.distribute import cache_scope

    spark.sparkContext._jvm.System.gc()  # noqa: SLF001
    t0 = time.time()
    with cache_scope():
        qd.spark(spark, sf_dir).write.mode("overwrite").format("noop").save()
    return time.time() - t0


def main() -> int:
    args = _parse_args(sys.argv[1:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from aircraftutilization_etl_spark.plans import CATALOG

    spark = bench_session()
    warm_up(spark, sf_dir)

    # Best-of-N per query: the noop sink executes the full plan; the min
    # filters transient host noise (this box shows occasional 5-10x
    # stalls, sometimes SUSTAINED across consecutive reps — two
    # agreeing-but-slow reps are not evidence of a regression). Three
    # reps base; when the spread is still >2x a stall likely spanned
    # some of them, so up to two extra reps arbitrate. r12 (VERDICT r11
    # #8): sub-second queries take FIVE base reps — they are nearly
    # free, and at 3 reps their cross-round deltas sat under the host's
    # ~1.8x single-pass noise floor, making per-query regression
    # detection impossible for most of the catalog.
    per_query: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        qd = CATALOG[name]
        times: list[float] = []
        try:
            while True:
                times.append(timed_rep(spark, qd, sf_dir))
                base = 5 if min(times) < 1.0 else 3
                if len(times) >= base and (
                    max(times) / max(min(times), 1e-9) <= 2
                    or len(times) >= base + 2
                ):
                    break
            per_query[name] = round(min(times), 3)
        except Exception as exc:  # noqa: BLE001 — one query must not kill the run
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} FAILED: {errors[name]}", file=sys.stderr)

    payload, side_block = _assemble_payloads(per_query, errors, sf_dir)
    # Per-query seconds + sentinel noise block go to the SIDE FILE(s)
    # plus stderr, never the stdout JSON line: the driver tail-captures
    # 2000 chars and the growing line broke its parser in r7 AND r9
    # (both parsed:null). The stdout line is bounded at ~120 chars
    # (metric/value/unit/sf/n_queries) forever.
    for side in _sentinel_targets(
        ["--commit-sentinels"] if args.commit_sentinels else []
    ):
        try:
            with open(side, "w", encoding="utf-8") as fh:
                json.dump({**payload, **side_block}, fh, indent=1)
        except OSError as exc:
            print(
                f"bench: sentinel side file unwritable: {exc}",
                file=sys.stderr,
            )
    print(json.dumps(side_block), file=sys.stderr)
    # compact separators: the per-query dict fits TAIL_BUDGET only
    # without json.dumps's default ", "/": " padding
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()
    # a failed query is a real signal, but a partial bench is far more
    # useful than a dead one — exit 0 with the errors recorded inline
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
