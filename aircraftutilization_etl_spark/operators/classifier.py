"""Trainable text-quality classifier — fastText-style logistic
regression over hashed bag-of-words features, trained ON the engine.

Curation stacks grade documents with learned filters (fastText quality
models in CCNet/LLaMA pipelines, not just hand rules); at 100 TB the
training loop itself must be a Spark job. The design here is the
textbook distributed-GD split:

- the MODEL (2^hash_bits weights + bias) lives on the driver and
  broadcasts each round — model-sized traffic, never data-sized;
- each full-batch gradient is ONE feature-keyed aggregation with
  map-side combine: rows score against the broadcast weights
  (σ(w·x) − y residuals), explode their features, and the per-bucket
  gradient sums shuffle ≤ 2^hash_bits rows total;
- features are hashed unigram counts kept as EXACT INTEGERS (count c,
  doc total t; x = c/t is the L1-normalized value) — the hashing trick,
  vocabulary-free, fixed dimensionality, engine-portable md5.

Determinism (the r5→r6 integerization): weights and bias live in
integer MICRO-units, every per-example quantity is floored to integers
before any sum (residual micros, gradient contribution in nano-units,
loss micros), and every division in the recurrence is a FLOOR over
exactly-representable integer-valued doubles — so gradient sums are
BIGINT sums (partition-order-free) and the whole 6-round training run
is replayed exactly by a DuckDB oracle (plans/classifier.py), like the
k-means/PageRank/BPE integerizations before it. The single remaining
cross-engine float primitive is exp() inside the sigmoid; its ≤1-ulp
engine variance flips a floor-to-micros only when σ(m) lands within
~1e-16 of a 1e-6 boundary (~1e-10 odds per doc-round — the same
accepted hazard class as the Naive-Bayes per-term ln flooring).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .distribute import (
    CORPUS_CACHE,
    cache,
    cache_scope,
    ensure_scan_parallelism,
    shuffle_width,
)
from .text import words_expr

HASH_BITS = 12
N_BUCKETS = 1 << HASH_BITS
MICRO = 1_000_000

# monotone per-process counter suffixing the trainer's temp-view names;
# itertools.count is a single C-level next() per draw, so concurrent
# trainers in one session cannot observe the same value
import itertools as _itertools

_TRAIN_SEQ = _itertools.count(1)


def hashed_features(df: DataFrame) -> DataFrame:
    """(id, bucket, c, t, x): hashed-unigram features, one row per
    distinct bucket per doc — c the bucket count, t the doc token
    total (both BIGINT, the exact integers the integerized trainer
    consumes), x = c/t the L1-normalized value. Pure projection + one
    (id, bucket) count — corpus-parallel and vocab-free. The doc total
    is a window over the count output, not an aggregate-and-join-back:
    the window costs one exchange by id (hash(id, bucket) does NOT
    satisfy clustering by id alone) but replaces the join shape's two
    (totals aggregation + counts re-exchange for the join) — net one
    exchange fewer for identical rows."""
    from pyspark.sql.window import Window

    # the explode+md5 feature pass is per-row hash work over the raw
    # text — spread an under-partitioned scan first (r11 opt; profiled
    # as a 441 ms single-task stage at sf0.1, no-op at corpus scale)
    df = ensure_scan_parallelism(df, "doc_id")
    words = df.select(
        F.col("doc_id"),
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    )
    bucketed = words.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.col("__w")), 1, 8), 16, 10).cast("long")
            % N_BUCKETS
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return counts.select(
        "doc_id",
        "bucket",
        "c",
        F.sum("c").over(Window.partitionBy("doc_id")).alias("t"),
    ).withColumn("x", F.col("c") / F.col("t"))


def _weights_df(spark, w_micros: list[int]):
    """Model as a broadcastable (bucket, __wm) frame. A 2^hash_bits
    literal array would be semantically equivalent but costs a giant
    expression tree EVERY round (analysis time grows with the model,
    measured ~2x the whole round at 4096 weights); a tiny broadcast
    join ships the same bytes through the stable join path instead.

    Built as an inline-``VALUES`` LocalRelation, not
    ``spark.createDataFrame``: a list-backed createDataFrame becomes a
    pickled Python RDD whose DataFrame conversion launches
    defaultParallelism Python-worker tasks — measured ~6.5 s of task
    time per training round at local[32] for a ≤4096-row model frame
    (guide §4: keep model-sized data off the Python boundary). The
    VALUES form parses to a LocalRelation the broadcast exchange reads
    driver-side: zero jobs, zero Python workers, identical rows/schema.
    """
    rows = [(i, wm) for i, wm in enumerate(w_micros) if wm != 0]
    if not rows:
        # round 1 (all-zero model): an empty frame with the same schema
        return spark.range(0).select(
            F.col("id").alias("bucket"), F.col("id").alias("__wm")
        )
    vals = ",".join(f"({i},{wm})" for i, wm in rows)
    return spark.sql(
        "SELECT CAST(col1 AS BIGINT) AS bucket, CAST(col2 AS BIGINT) "
        f"AS __wm FROM VALUES {vals}"
    )


def _margins(feats: DataFrame, w_micros: list[int], b_micros: int):
    """(doc_id, __m): the per-doc margin (w·x + b) via the broadcast model
    join. Exact-integer numerator Σ w_micros·c + b_micros·t (absent
    buckets carry weight 0, so the sparse model frame is exact), ONE
    double division by t·1e6 — both engines round that division
    identically, so the margin double is bit-stable cross-engine."""
    # Exactness precondition (ADVICE r6/r7): the numerator must be
    # exactly representable in the double it is cast to, i.e.
    # t·(max|w_micros| + |b_micros|) < 2^53. train_logreg_hashed
    # enforces it per round against the TRAINING corpus; scoring a
    # different corpus can have larger per-doc t, so it is ALSO
    # enforced here, per group, executor-side: the threshold is a
    # driver-computed literal (integer division, so the comparison
    # itself cannot overflow a long) and assert_true is folded into
    # the margin expression so column pruning cannot drop it. Cost:
    # one long comparison per document.
    # Scoring has no gradient term, so the floor is 1e6 (denominator
    # t·1e6 must itself be an exact double), NOT training's 1e9
    # gradient-term floor — reusing 1e9 here would hard-fail corpora
    # up to ~1000x below the real bound (code-review r8).
    wb = max((abs(int(x)) for x in w_micros), default=0) + abs(int(b_micros))
    t_threshold = (2**53 - 1) // max(wb, 1_000_000)
    wdf = _weights_df(feats.sparkSession, w_micros)
    margin = (
        F.sum(F.coalesce(F.col("__wm"), F.lit(0)) * F.col("c"))
        + F.lit(int(b_micros)) * F.max("t")
    ).cast("double") / (F.max("t") * F.lit(1000000.0))
    bound_ok = F.assert_true(
        F.max("t") <= F.lit(int(t_threshold)),
        f"integer-GD exactness bound violated at scoring time: a "
        f"document's token total exceeds {t_threshold} for "
        f"max|w|+|b|={wb} micros, putting the casted margin numerator "
        f"at or past 2^53 (the floored margin would no longer be "
        f"bit-stable cross-engine)",
    )
    return (
        feats.join(F.broadcast(wdf), "bucket", "left")
        .groupBy("doc_id")
        .agg(F.when(bound_ok.isNull(), margin).alias("__m"))
    )


def _p_micros(m):
    """floor(σ(m)·1e6) — the quantized prediction both engines agree on
    (exp() ulp variance aside; see module docstring)."""
    return F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-m))) * F.lit(1000000.0)
    ).cast("long")


def train_logreg_hashed(
    features: DataFrame,
    labels: DataFrame,
    iterations: int = 20,
    lr: float = 2.0,
) -> tuple[list[int], int, list[float]]:
    """Full-batch gradient descent for L2-free logistic regression in
    integer micro-units: returns (w_micros, b_micros, per-iteration
    mean log-loss as floats for diagnostics).

    Per round: one scoring pass (broadcast integer weights → per-doc
    margin → floored σ micros), one gradient aggregation (explode
    features against integer residuals → bucket-keyed BIGINT sum,
    ≤ N_BUCKETS result rows), one small collect. The exact recurrence
    (replayed verbatim by the SQL oracle in plans/classifier.py):

        r       = floor(σ(m)·1e6) − y·1e6            per doc
        G[b]    = Σ_docs floor((c·r·1e3) / t)        BIGINT sum
        w[b]   −= floor((lr·G[b]) / (1e3·n))         in micros
        bias   −= floor((lr·Σr) / n)                 in micros

    Lineage stays O(1) per round because each round's plan reads the
    persisted features, not the previous round's plan.

    Shuffle shape (the r6 perf fix — 11.4 s → ~4.5 s for 6 rounds at
    sf0.1, model bit-identical): the persisted training frame is labels
    pre-joined into the features and hash-partitioned by document ONCE
    (explicit partition count so AQE cannot coalesce the cached
    partitioning away), and each round is ONE single-pass job — the
    per-doc margin comes from a WINDOW over the doc partitioning (no
    aggregate-then-join-back, which a UNION would recompute per
    branch), the bias/loss sums ride as sentinel buckets -1/-2 emitted
    by an explode on exactly one row per doc (the MIN-bucket row), and
    the only exchange is the bucket-keyed gradient sum, whose map-side
    combine leaves ≤ N_BUCKETS+2 rows per task. Remaining per-round
    floor is ~0.65 s of fixed cost (weights-broadcast job + two stage
    launches + 4 KB collect), independent of corpus size.
    """
    spark = features.sparkSession
    # per-call temp-view suffix so two trainers in one session (e.g. a
    # notebook comparing label sets) never clobber each other's views
    seq = next(_TRAIN_SEQ)
    base_view = f"__clf_base_{seq}"
    w_view = f"__clf_w_{seq}"
    nparts = shuffle_width(spark)
    lab = labels.select(
        F.col("doc_id"),
        (F.col("label").cast("long") * F.lit(MICRO)).alias("__ym"),
        F.col("label").cast("double").alias("__y"),
    )
    # n counts LABELED docs (matching the oracle's COUNT(*) over the
    # label source), not docs-with-features — a doc with no feature
    # rows still dilutes the mean gradient, exactly as before the
    # co-partitioning rewrite.
    n = lab.count()
    # Size-aware partition count: ~600 docs (≈15k feature rows) per
    # partition, capped at the configured shuffle width. At bench SFs
    # this collapses the per-round stages to a few short tasks (the
    # 3-partition/2k-doc sizing measured ~15% slower per round at
    # sf0.1); at cluster scale the cap keeps the full configured
    # parallelism. Partition COUNT never changes the BIGINT sums, so
    # the model is unaffected.
    nparts_eff = max(1, min(nparts, -(-n // 600)))
    # project to exactly the columns the round SQL reads — x (= c/t)
    # and any extra caller columns would otherwise ride the cache and
    # be re-scanned every round
    base = (
        features.select("doc_id", "bucket", "c", "t")
        .join(lab, "doc_id")
        .repartition(nparts_eff, "doc_id")
    )
    # The whole round is ONE SQL statement built once (rebuilding the
    # equivalent DataFrame plan in Python cost ~0.35 s of py4j
    # round-trips per round; parsing this string costs ~0.09 s), and
    # ONE job: layer 1 joins the broadcast weights and computes the
    # margin + the doc's MIN bucket as windows over the cached doc
    # partitioning (no exchange), layer 2 derives the integer residual
    # and loss micros, layer 3 explodes each row into its gradient
    # contribution — plus, on the one MIN-bucket row per doc, the
    # sentinel bias (-1) and loss (-2) rows — and layer 4 is the
    # bucket-keyed BIGINT sum. Expressions mirror the DuckDB oracle in
    # plans/classifier.py term for term (f.t is per-doc constant, so
    # the window SUM + bias·t numerator equals the oracle's
    # SUM(w·c) + b·MAX(t) exactly).
    round_sql = f"""
    SELECT kv.b AS bucket, SUM(kv.g) AS __G
    FROM (
      SELECT explode(CASE WHEN bucket = __minb THEN array(
                 named_struct('b', bucket,
                              'g', CAST(FLOOR((c * __r * 1000.0) / t)
                                        AS BIGINT)),
                 named_struct('b', CAST(-1 AS BIGINT), 'g', __r),
                 named_struct('b', CAST(-2 AS BIGINT), 'g', __lm))
             ELSE array(
                 named_struct('b', bucket,
                              'g', CAST(FLOOR((c * __r * 1000.0) / t)
                                        AS BIGINT)))
             END) AS kv
      FROM (
        SELECT doc_id, bucket, c, t, __minb,
               CAST(FLOOR((1.0 / (1.0 + EXP(-__m))) * 1000000.0) AS BIGINT)
                   - __ym AS __r,
               -- clamped log-loss floored to micros: even the
               -- diagnostic sums as exact integers
               CAST(FLOOR(-(
                   __y * LN(GREATEST(1.0 / (1.0 + EXP(-__m)), 1e-12))
                   + (1 - __y)
                     * LN(GREATEST(1 - 1.0 / (1.0 + EXP(-__m)), 1e-12))
               ) * 1000000.0) AS BIGINT) AS __lm
        FROM (
          SELECT /*+ BROADCAST(w) */
                 f.doc_id, f.bucket, f.c, f.t, f.__ym, f.__y,
                 CAST(SUM(COALESCE(w.__wm, 0) * f.c)
                          OVER (PARTITION BY f.doc_id)
                      + CAST({{bias}} AS BIGINT) * f.t AS DOUBLE)
                     / (f.t * 1000000.0) AS __m,
                 MIN(f.bucket) OVER (PARTITION BY f.doc_id) AS __minb
          FROM {base_view} f LEFT JOIN {w_view} w USING (bucket)
        )
      )
    ) GROUP BY kv.b
    """
    w = [0] * N_BUCKETS
    b = 0
    losses: list[float] = []
    # The training cache is the trainer's own: only the returned model
    # leaves this call, so its scope closes here, on a failed round too.
    with cache_scope():
        try:
            # corpus-scale feature rows: serialized + spill (guide §5)
            base = cache(base, CORPUS_CACHE)
            # The exactness-bound scan below doubles as the materializing
            # action (an aggregate touches every partition of a persisted
            # frame), so cache build + max(t) are ONE job, not two (r12 —
            # each driver-blocking job here is fixed per-query-build cost).
            base.createOrReplaceTempView(base_view)
            # Exactness precondition for the bit-stable-margin claim
            # (ADVICE r6): every BIGINT the round SQL casts to DOUBLE must
            # be < 2^53 — the margin numerator is bounded by
            # t·(max|w| + |b|) (Σc = t) and the per-row gradient term by
            # t·1e6·1000 (|r| ≤ 1e6). Checked per round against the cached
            # corpus's max t so weight growth under higher lr/iterations
            # fails LOUDLY here instead of surfacing as an unexplained
            # oracle hash mismatch. The per-round check is driver-side
            # arithmetic.
            t_max = int(
                base.agg(F.max("t").alias("m")).collect()[0]["m"] or 0
            )

            def _check_exactness_bound():
                wb = max((abs(x) for x in w), default=0) + abs(b)
                if t_max * max(wb, 1_000_000_000) >= 2**53:
                    raise ArithmeticError(
                        "integer-GD exactness bound violated: max(t)="
                        f"{t_max} with max|w|+|b|={wb} micros puts a "
                        "casted numerator at or past 2^53; the floored "
                        "margin/gradient would no longer be bit-stable "
                        "cross-engine (lower lr/iterations or cap per-doc "
                        "feature counts)"
                    )

            for _ in range(iterations):
                _check_exactness_bound()
                _weights_df(spark, w).createOrReplaceTempView(w_view)
                rows = spark.sql(round_sql.format(bias=int(b))).collect()
                for row in rows:
                    g = int(row["__G"])
                    if row["bucket"] == -2:
                        losses.append(g / MICRO / n)
                    elif row["bucket"] == -1:
                        b -= math.floor((lr * g) / float(n))
                    else:
                        w[row["bucket"]] -= math.floor(
                            (lr * g) / (1000.0 * n)
                        )
            # the final update is what predict()/_margins will cast to
            # DOUBLE — validate the RETURNED model too, not only each
            # round's entry weights (code-review r7)
            _check_exactness_bound()
        finally:
            # a failed round must not leak the views
            spark.catalog.dropTempView(w_view)
            spark.catalog.dropTempView(base_view)
    return w, b, losses


def predict(
    features: DataFrame,
    w_micros: list[int],
    b_micros: int,
) -> DataFrame:
    """(id, p_micros, prob): floor(σ(w·x + b)·1e6) per document (and
    its float rendering) from the broadcast integer model — a pure
    scoring pass, the shape inference takes at any corpus size. The
    sigmoid is evaluated once; prob derives from the quantized column."""
    return (
        _margins(features, w_micros, b_micros)
        .select("doc_id", _p_micros(F.col("__m")).alias("p_micros"))
        .select(
            "doc_id",
            "p_micros",
            (F.col("p_micros") / F.lit(1000000.0)).alias("prob"),
        )
    )


def naive_bayes_confusion(df: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes trained ON the engine and evaluated on a
    held-out split: add-1-smoothed per-class unigram likelihoods plus a
    document-count prior, argmax over classes, reported as the
    (actual, predicted, n_docs) confusion matrix — the supervised
    companion to the logistic quality classifier, with a CLOSED-FORM
    training step (counting), so unlike gradient descent the whole
    train-predict-evaluate loop is exactly replayable by a SQL oracle.

    score(d, l) = ln(n_docs_l / n_train_docs)
                + Σ_tokens ln((c_{l,w} + 1) / (t_l + V))

    with c the train token counts per (class, word), t_l the class
    token total, V the train vocabulary size. The md5-prefix split is
    the same zero-shuffle projection as q_split_train_val (bound
    'cccd' ≈ 80% train).

    Scale: training is two count aggregates with map-side combine
    (per-(class, word) and per-class); scoring joins held-out tokens ×
    |classes| rows against the model on (class, word) — AQE broadcasts
    the model side when it is dimension-sized; the argmax is one
    per-doc window over |classes| rows. No Python anywhere —
    closed-form NB keeps even training inside codegen.
    """
    from pyspark.sql.window import Window

    tagged = df.select(
        F.col("doc_id"),
        F.col("lang").alias("actual"),
        words_expr().alias("__ws"),
        (
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) < "cccd"
        ).alias("in_train"),
    )
    train = tagged.filter("in_train")
    heldout = tagged.filter(~F.col("in_train"))
    train_words = train.select(
        F.col("actual").alias("cls"),
        F.explode("__ws").alias("w0"),
    ).select("cls", F.lower("w0").alias("w"))
    model = train_words.groupBy("cls", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    cls_tot = train_words.groupBy("cls").agg(F.count(F.lit(1)).alias("t"))
    vocab = train_words.select("w").distinct().agg(
        F.count(F.lit(1)).alias("v")
    )
    priors = train.groupBy(F.col("actual").alias("cls")).agg(
        F.count(F.lit(1)).alias("nd")
    )
    n_train = train.agg(F.count(F.lit(1)).alias("n"))
    # Determinism: each PER-TERM log-likelihood is floored to integer
    # micro-units BEFORE summation, so the sum is over BIGINTs —
    # order-independent across partitionings and engines. The residual
    # cross-engine hazard is a single term's ln (1-ulp-accurate
    # Math.log vs libm) landing within ~1e-9 of a micro integer —
    # ~1e-9 odds per MODEL term, orders of magnitude tighter than
    # flooring the float SUM (the first r5 form), whose
    # accumulation-order noise spanned micro boundaries at ~1e-3 odds
    # per score. The ~1e-6-per-token quantization is
    # classification-irrelevant and replayed exactly by the SQL
    # oracle.
    classes = (
        priors.crossJoin(F.broadcast(n_train))
        .join(cls_tot, "cls")
        .crossJoin(F.broadcast(vocab))
        .select(
            "cls",
            F.floor(F.log(F.col("nd") / F.col("n")) * 1e6)
            .cast("bigint")
            .alias("__prior_micros"),
            (F.col("t") + F.col("v")).alias("__denom"),
        )
    )
    hw = heldout.select(
        "doc_id", "actual", F.explode("__ws").alias("w0")
    ).select("doc_id", "actual", F.lower("w0").alias("w"))
    scored = (
        hw.crossJoin(F.broadcast(classes))
        .join(model, ["cls", "w"], "left")
        .groupBy("doc_id", "actual", "cls", "__prior_micros")
        .agg(
            F.sum(
                F.floor(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                        / F.col("__denom")
                    )
                    * 1e6
                ).cast("bigint")
            ).alias("__ll_micros")
        )
        .select(
            "doc_id",
            "actual",
            "cls",
            (F.col("__prior_micros") + F.col("__ll_micros")).alias(
                "__score"
            ),
        )
    )
    win = Window.partitionBy("doc_id").orderBy(
        F.desc("__score"), F.col("cls")
    )
    pred = (
        scored.withColumn("__r", F.row_number().over(win))
        .filter(F.col("__r") == 1)
        .select("doc_id", "actual", F.col("cls").alias("predicted"))
    )
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("actual", "predicted")
    )
