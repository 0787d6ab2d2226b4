"""Learned quality-filter queries (operators/classifier.py).

The r6 integerization made the gradient-descent trainer hash-checkable:
weights/bias live in integer micro-units and every division in the
recurrence is a FLOOR over exactly-representable integers, so the
oracle below replays ALL training rounds (margins → floored sigmoid
micros → integer residuals → BIGINT gradient sums → floored weight
updates) as an unrolled CTE chain, the same pattern as the k-means
Lloyd replay (plans/clustering.py) and the BPE merge replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.distribute import CORPUS_CACHE, cache
from .catalog import query, table

CLF_ITERATIONS = 6
CLF_LR = 2.0
LOW_SOURCES = tuple(f"src{i}" for i in range(10))


def _logreg_ctes() -> tuple[str, str]:
    """(CTE chain, final-margin name) replaying the integerized GD
    recurrence of operators/classifier.train_logreg_hashed — iterations
    unrolled like the k-means Lloyd replay. ``marg{k}`` with the
    post-training weights is the scoring pass the SELECT consumes."""
    srcs = ", ".join(f"'{s}'" for s in LOW_SOURCES)
    parts = [
        f"""
    docs AS MATERIALIZED (
        SELECT doc_id, source,
               CASE WHEN source IN ({srcs}) THEN 1 ELSE 0 END AS y
        FROM documents
    )""",
        r"""
    words AS MATERIALIZED (
        SELECT doc_id, lower(t.w) AS w
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(text), '\s+') AS ws
              FROM documents) d,
             UNNEST(ws) AS t(w)
    )""",
        """
    feats AS MATERIALIZED (
        SELECT doc_id,
               CAST(CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 4096
                    AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM words GROUP BY 1, 2
    )""",
        """
    tot AS MATERIALIZED (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t
            FROM feats GROUP BY 1)""",
        """
    nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM documents)""",
        """
    w0 AS MATERIALIZED (SELECT DISTINCT bucket, CAST(0 AS BIGINT) AS wm FROM feats)""",
        """
    b0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS bm)""",
    ]
    # per round: margin (exact-integer numerator, ONE double division),
    # residual micros, bucket-keyed BIGINT gradient, floored update
    for i in range(1, CLF_ITERATIONS + 2):
        parts.append(f"""
    marg{i} AS MATERIALIZED (
        SELECT f.doc_id,
               CAST(SUM(w.wm * f.c) + b.bm * tt.t AS DOUBLE)
                   / (tt.t * 1000000.0) AS m
        FROM feats f
          JOIN w{i - 1} w USING (bucket)
          JOIN tot tt ON tt.doc_id = f.doc_id
          CROSS JOIN b{i - 1} b
        GROUP BY f.doc_id, tt.t, b.bm
    )""")
        if i == CLF_ITERATIONS + 1:
            break  # final scoring pass only; no further update
        parts.append(f"""
    resid{i} AS MATERIALIZED (
        SELECT d.doc_id,
               CAST(FLOOR((1.0 / (1.0 + exp(-m.m))) * 1000000.0) AS BIGINT)
                   - d.y * 1000000 AS r
        FROM docs d JOIN marg{i} m USING (doc_id)
    )""")
        parts.append(f"""
    grad{i} AS MATERIALIZED (
        SELECT f.bucket,
               CAST(SUM(CAST(FLOOR((f.c * r.r * 1000.0) / tt.t) AS BIGINT))
                    AS BIGINT) AS g
        FROM feats f
          JOIN resid{i} r USING (doc_id)
          JOIN tot tt USING (doc_id)
        GROUP BY 1
    )""")
        parts.append(f"""
    w{i} AS MATERIALIZED (
        SELECT w.bucket,
               w.wm - CAST(FLOOR(({CLF_LR!r} * g.g) / (1000.0 * nn.n)) AS BIGINT)
                   AS wm
        FROM w{i - 1} w JOIN grad{i} g USING (bucket) CROSS JOIN nn
    )""")
        parts.append(f"""
    b{i} AS MATERIALIZED (
        SELECT b.bm - CAST(FLOOR(({CLF_LR!r} * rs.s) / CAST(nn.n AS DOUBLE))
                           AS BIGINT) AS bm
        FROM b{i - 1} b
          CROSS JOIN (SELECT CAST(SUM(r) AS BIGINT) AS s FROM resid{i}) rs
          CROSS JOIN nn
    )""")
    return ",".join(parts), f"marg{CLF_ITERATIONS + 1}"


_LOGREG_CTES, _FINAL_MARG = _logreg_ctes()


@query(
    "q_quality_classifier",
    f"""
    WITH {_LOGREG_CTES}
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(d.y) AS INT) AS label,
           CAST(FLOOR(CAST(SUM(
                    CAST(FLOOR((1.0 / (1.0 + exp(-m.m))) * 1000000.0)
                         AS BIGINT)) AS DOUBLE) / COUNT(*)) AS BIGINT)
               AS mean_pred_micros
    FROM docs d JOIN {_FINAL_MARG} m USING (doc_id)
    GROUP BY d.source
    ORDER BY d.source
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a fastText-style hashed-unigram logistic regression ON the
    engine (6 full-batch GD rounds, integer micro-unit weights) against
    a weak source-group label, then report per-source calibration:
    docs, labeled share, and the model's mean predicted probability in
    micros — the learned-filter workflow (CCNet/LLaMA-style quality
    models) as one Spark job chain.

    Hash-checkable since r6 (previously the last rows-only entry): the
    trainer accumulates gradients as BIGINT sums of per-example floored
    contributions, so training is partition-order-exact and the oracle
    replays every round verbatim (see operators/classifier.py for the
    recurrence and the lone exp()-ulp hazard, ~1e-10 per doc-round).

    r8 execution-path change (hash-float note): predict()/_margins now
    enforces the 2^53 exactness bound per scored document (ADVICE r7) —
    results identical, plan gains one post-aggregation assert_true.

    Scale: the model (2^12 integer weights) broadcasts each round; each
    round is one scoring pass + one feature-keyed gradient aggregation
    with map-side combine (≤ 4096 result rows) — data never moves to
    the driver, gradients do.
    """
    from ..operators.classifier import (
        hashed_features,
        predict,
        train_logreg_hashed,
    )

    d = table(spark, sf_dir, "documents")
    labels = d.select(
        "doc_id",
        F.col("source"),
        F.col("source").isin(list(LOW_SOURCES)).cast("int").alias("label"),
    )
    # Persist the feature frame: the trainer consumes it once to build
    # its co-partitioned training cache and the scoring pass reads it
    # again — without this the explode/hash/aggregate feature build
    # runs twice per query (measured ~3 s each at sf0.1).
    # corpus-scale feature rows: serialized + spill (VERDICT r11 #3)
    feats = cache(hashed_features(d), CORPUS_CACHE)
    w, b, _losses = train_logreg_hashed(
        feats, labels, iterations=CLF_ITERATIONS, lr=CLF_LR
    )
    preds = predict(feats, w, b)
    return (
        labels.join(preds, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("label").cast("int").alias("label"),
            F.floor(F.sum("p_micros").cast("double") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("mean_pred_micros"),
        )
        .orderBy("source")
    )


@query(
    "q_text_naive_bayes",
    """
    WITH tagged AS (
        SELECT doc_id, lang AS actual, text,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                   AS in_train
        FROM documents
    ),
    train_words AS (
        SELECT actual AS cls, lower(t.w) AS w
        FROM tagged,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE in_train
    ),
    model AS (SELECT cls, w, COUNT(*) AS c FROM train_words GROUP BY 1, 2),
    cls_tot AS (SELECT cls, COUNT(*) AS t FROM train_words GROUP BY 1),
    vocab AS (SELECT COUNT(DISTINCT w) AS v FROM train_words),
    priors AS (SELECT actual AS cls, COUNT(*) AS nd FROM tagged
               WHERE in_train GROUP BY 1),
    ntr AS (SELECT COUNT(*) AS n FROM tagged WHERE in_train),
    classes AS (
        SELECT p.cls,
               CAST(FLOOR(ln(p.nd * 1.0 / ntr.n) * 1000000) AS BIGINT)
                   AS prior_micros,
               ct.t + vocab.v AS denom
        FROM priors p CROSS JOIN ntr
          JOIN cls_tot ct ON ct.cls = p.cls
          CROSS JOIN vocab
    ),
    hw AS (
        SELECT doc_id, actual, lower(t.w) AS w
        FROM tagged,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE NOT in_train
    ),
    scored AS (
        -- PER-TERM floored micros, then an INTEGER (order-independent)
        -- sum: scores cannot drift with partitioning/accumulation
        -- order; the only residual cross-engine hazard is one term's
        -- ln landing within an ulp of a micro boundary (~1e-9/term)
        SELECT h.doc_id, h.actual, cl.cls,
               cl.prior_micros
                 + SUM(CAST(FLOOR(ln((COALESCE(m.c, 0) + 1.0) / cl.denom)
                                  * 1000000) AS BIGINT)) AS score
        FROM hw h CROSS JOIN classes cl
          LEFT JOIN model m ON m.cls = cl.cls AND m.w = h.w
        GROUP BY h.doc_id, h.actual, cl.cls, cl.prior_micros
    ),
    pred AS (
        SELECT doc_id, actual, cls AS predicted
        FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY doc_id ORDER BY score DESC, cls) AS r
              FROM scored)
        WHERE r = 1
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_text_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier trained ON the
    engine (add-1 smoothing, document-count priors) over the 80% md5
    train split, evaluated as a confusion matrix on the held-out 20% —
    the supervised-classification primitive whose closed-form training
    (counting) lets the SQL oracle replay train AND predict exactly
    with no unrolled recurrence — the gradient-descent classifier
    (q_quality_classifier) needs the round-by-round CTE replay above.

    Scale (operators/classifier.naive_bayes_confusion): two map-side-
    combined count aggregates train the model; scoring is held-out
    tokens × |classes| against the (class, word) model join; the
    argmax is a |classes|-row per-doc window. All JVM, no Python —
    even training stays inside codegen.
    """
    from ..operators.classifier import naive_bayes_confusion

    d = table(spark, sf_dir, "documents")
    return naive_bayes_confusion(d)
