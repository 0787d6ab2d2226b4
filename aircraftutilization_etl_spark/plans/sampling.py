"""Catalog queries for deterministic sampling / dataset splits.

The md5-prefix scheme (operators/sampling.py) is deliberately
SQL-portable: DuckDB's md5() produces the same hex digest, so the
oracle replays the exact row selection — the strongest possible check
for a sampling operator, where "roughly the right fraction" would hide
placement bugs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sampling import hash_split, rebalance_sources, stratified_sample
from .catalog import query, table

SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@query(
    "q_split_train_val",
    """
    SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM (
        SELECT lang, n_chars,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    GROUP BY lang, split
    ORDER BY lang, split
    """,
)
def q_split_train_val(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of the corpus by
    doc_id content hash, audited per language.

    The oracle inlines the same md5-prefix thresholds ('cccd' =
    round(0.8*65536), 'e666' = round(0.9*65536)), so Spark and DuckDB
    must place every individual document identically — row placement,
    not just split sizes, is what's checked.

    Scale: the split is a narrow per-row projection (zero shuffles,
    stable under appends/repartitioning); only the audit aggregation
    shuffles, on (lang, split) — 15 groups.
    """
    d = table(spark, sf_dir, "documents")
    return (
        hash_split(d, "doc_id", SPLITS)
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("lang", "split")
    )


@query(
    "q_sample_stratified",
    """
    SELECT doc_id, lang, source
    FROM (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= 20
    ORDER BY lang, doc_id
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 documents per language, selected by md5 order of
    doc_id — a reproducible stratified sample whose exact membership the
    oracle replays row for row.

    Scale: one shuffle on the stratum key, per-stratum top-n via
    row_number (rank computation streams; no global sort). A skewed
    stratum costs |stratum| sort work on one partition — the inherent
    bound for exact per-group selection.
    """
    d = table(spark, sf_dir, "documents")
    return (
        stratified_sample(d, ["lang"], 20, "doc_id")
        .select("doc_id", "lang", "source")
        .orderBy("lang", "doc_id")
    )


@query(
    "q_rebalance_sources",
    """
    WITH w AS (
        SELECT source,
               CAST(10000 * (1 + CAST(substr(source, 4) AS INT) % 4)
                    AS BIGINT) AS w_ppm
        FROM (SELECT DISTINCT source FROM documents)
    ),
    counts AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    t AS (
        SELECT MIN(n * 1000000 // w_ppm) AS t
        FROM counts JOIN w USING (source)
    ),
    quota AS (SELECT source, (w_ppm * t.t) // 1000000 AS k FROM w, t),
    ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rn <= q.k
    ORDER BY r.source, r.doc_id
    """,
)
def q_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix rebalancing: downsample the corpus to a target mix
    (weights 1:2:3:4 cycling over the source index) — the largest corpus
    honoring the mix with no source upsampled, selections chosen by md5
    order so the exact kept-row set is engine-reproducible.

    Scale: a tiny per-source count aggregate broadcasts back; the only
    data-sized shuffle is the per-source ranking (same per-group top-k
    bound as stratified sampling). Quota arithmetic is all-integer, so
    Spark and the oracle agree on every quota and every kept row.
    """
    d = table(spark, sf_dir, "documents")
    weight = (
        10000 * (1 + F.substring("source", 4, 10).cast("int") % 4)
    ).cast("long")
    return rebalance_sources(d, weight).select("doc_id", "source")


_SPLIT_CASE = """CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd'
                    THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'
                    THEN 'val'
                    ELSE 'test' END"""


def _leakage_sql() -> str:
    from .dedup import _LSH_PAIRS_CTES

    return f"""
    WITH {_LSH_PAIRS_CTES},
    splits AS (SELECT doc_id, {_SPLIT_CASE} AS split FROM documents)
    SELECT p.id_a, p.id_b,
           sa.split AS split_a, sb.split AS split_b,
           p.jaccard
    FROM lsh_pairs p
      JOIN splits sa ON sa.doc_id = p.id_a
      JOIN splits sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    ORDER BY id_a, id_b
    """


@query("q_split_leakage_report", _leakage_sql())
def q_split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination guard: every near-duplicate pair
    (MinHash-LSH, Jaccard ≥ 0.5) whose two members landed in DIFFERENT
    splits of the 80/10/10 partition — the leakage a random split
    silently ships (a val doc whose near-copy sits in train inflates
    eval). Empty output = clean split; each row is a violation with its
    similarity as evidence.

    Scale: composes the LSH pipeline (banded candidates only) with the
    zero-shuffle split projection; the final joins are broadcast-sized
    (split map is a projection of the corpus, pairs are few).
    """
    from .dedup import JACCARD_THRESHOLD, minhash_lsh_duplicates

    d = table(spark, sf_dir, "documents")
    pairs = minhash_lsh_duplicates(d, JACCARD_THRESHOLD)
    splits = hash_split(d, "doc_id", SPLITS).select("doc_id", "split")
    sa = splits.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "split", "split_a"
    )
    sb = splits.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "split", "split_b"
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


@query(
    "q_split_balance",
    f"""
    WITH assigned AS (
        SELECT lang, {_SPLIT_CASE} AS split FROM documents
    ),
    per_split AS (
        SELECT split, lang, COUNT(*) AS n_docs FROM assigned
        GROUP BY split, lang
    ),
    split_tot AS (
        SELECT split, SUM(n_docs) AS split_total FROM per_split GROUP BY split
    ),
    global_share AS (
        SELECT lang, SUM(n_docs) * 1000000 // SUM(SUM(n_docs)) OVER ()
                   AS global_ppm
        FROM per_split GROUP BY lang
    )
    SELECT p.split, p.lang,
           CAST(p.n_docs AS BIGINT) AS n_docs,
           CAST(p.n_docs * 1000000 // t.split_total AS BIGINT) AS share_ppm,
           CAST(g.global_ppm AS BIGINT) AS global_ppm,
           CAST(p.n_docs * 1000000 // t.split_total - g.global_ppm
                AS BIGINT) AS delta_ppm
    FROM per_split p
      JOIN split_tot t USING (split)
      JOIN global_share g USING (lang)
    ORDER BY split, lang
    """,
)
def q_split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-parity audit of the 80/10/10 split: each split's
    per-language share vs the global share, as integer ppm deltas — the
    companion to q_split_leakage_report (leakage asks "did duplicates
    cross?", this asks "did stratification hold?"; a hash-based split
    is unstratified, so the deltas ARE its sampling noise, quantified).

    Scale: two small aggregations over (split, lang) cells — the
    per-row work is the zero-shuffle split projection.
    """
    d = table(spark, sf_dir, "documents")
    assigned = hash_split(d, "doc_id", SPLITS).select("lang", "split")
    per_split = assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    split_tot = per_split.groupBy("split").agg(
        F.sum("n_docs").alias("split_total")
    )
    global_share = (
        per_split.groupBy("lang")
        .agg(F.sum("n_docs").alias("lang_total"))
        .withColumn(
            "global_ppm",
            F.expr(
                "lang_total * 1000000 DIV SUM(lang_total) OVER ()"
            ),
        )
        .select("lang", "global_ppm")
    )
    return (
        per_split.join(split_tot, "split")
        .join(global_share, "lang")
        .select(
            "split",
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("n_docs * 1000000 DIV split_total").alias("share_ppm"),
            F.col("global_ppm").cast("bigint").alias("global_ppm"),
            F.expr(
                "n_docs * 1000000 DIV split_total - global_ppm"
            ).alias("delta_ppm"),
        )
    )


TEMPERATURE_TARGET = 250


@query(
    "q_sample_temperature",
    f"""
    WITH counts AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    s AS (
        SELECT lang, n,
               CAST(FLOOR(SQRT(n) * 1000000) AS BIGINT) AS s
        FROM counts
    ),
    tot AS (SELECT CAST(SUM(s) AS BIGINT) AS big_s FROM s),
    t AS (
        SELECT LEAST(MIN(n * big_s // s), {TEMPERATURE_TARGET}) AS cap
        FROM s, tot
    ),
    quota AS (
        SELECT lang, CAST((s * t.cap) // tot.big_s AS BIGINT) AS k
        FROM s, t, tot
    ),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN quota q USING (lang)
    WHERE r.rn <= q.k
    ORDER BY r.lang, r.doc_id
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mix (alpha = 1/2, mT5/UniMax
    style): downsample so each language's share follows sqrt(n_lang) —
    head languages damped, tail languages kept — capped at a target
    total, with the exact kept-row set engine-reproducible.

    Engine-exact despite the fractional exponent: IEEE sqrt is
    correctly rounded (pow is not), so floor(sqrt(n)·1e6) is the same
    integer on both engines and everything downstream is integer math
    (operators/sampling.temperature_rebalance).

    Scale: tiny per-domain aggregate + broadcast scalars; the only
    data-sized exchange is the per-language md5 ranking.
    """
    from ..operators.sampling import temperature_rebalance

    d = table(spark, sf_dir, "documents")
    return temperature_rebalance(
        d, "lang", "doc_id", TEMPERATURE_TARGET
    ).select("doc_id", "lang")


KFOLDS = 5


@query(
    "q_split_kfold",
    f"""
    WITH folds AS (
        SELECT lang,
               CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                         AS INTEGER) % {KFOLDS} AS INT) AS fold
        FROM documents
    ),
    cells AS (
        SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM folds GROUP BY fold, lang
    ),
    tots AS (SELECT fold, SUM(n_docs) AS fold_total FROM cells GROUP BY fold)
    SELECT c.fold, c.lang, c.n_docs,
           CAST(c.n_docs * 1000000 // t.fold_total AS BIGINT) AS share_ppm
    FROM cells c JOIN tots t USING (fold)
    ORDER BY c.fold, c.lang
    """,
)
def q_split_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation carve (md5-bucket mod k)
    with a per-fold language-composition audit — fold membership depends
    only on the row key, so folds are stable under appends, engine
    swaps, and any partitioning.

    Scale: fold assignment is a narrow zero-shuffle projection; the
    audit is a |folds|x|langs| aggregate with map-side combine.
    """
    from ..operators.sampling import kfold_assign

    d = table(spark, sf_dir, "documents")
    folds = kfold_assign(d, "doc_id", KFOLDS)
    cells = folds.groupBy("fold", "lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    tots = cells.groupBy("fold").agg(F.sum("n_docs").alias("fold_total"))
    return (
        cells.join(F.broadcast(tots), "fold")
        .select(
            "fold",
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("n_docs * 1000000 DIV fold_total").alias("share_ppm"),
        )
    )


N_SHARDS = 8
SHARD_SEED = "r4"

@query(
    "q_shard_order",
    f"""
    SELECT doc_id, shard, CAST(pos AS BIGINT) AS pos FROM (
        SELECT doc_id,
               CAST(CAST('0x' || substr(digest, 1, 4) AS INTEGER)
                    % {N_SHARDS} AS INT) AS shard,
               ROW_NUMBER() OVER (
                   PARTITION BY CAST('0x' || substr(digest, 1, 4) AS INTEGER)
                                % {N_SHARDS}
                   ORDER BY digest, doc_id) AS pos
        FROM (SELECT doc_id,
                     md5('{SHARD_SEED}:' || CAST(doc_id AS VARCHAR)) AS digest
              FROM documents)
    )
    ORDER BY shard, pos
    """,
)
def q_shard_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded global training-order shuffle realized as 8 shards with
    in-shard positions — the oracle replays the exact permutation (every
    row's shard AND position), the strongest check a shuffle can carry.

    Scale: shard assignment is a narrow projection; the only exchange
    is the hash partition on shard + per-shard sort — the same work a
    partitioned writer does, with uniform ~N/S rows per sort task
    regardless of source/language skew (the digest is uniform).
    """
    from ..operators.sampling import shard_and_order

    d = table(spark, sf_dir, "documents")
    return (
        shard_and_order(d, "doc_id", N_SHARDS, seed=SHARD_SEED)
        .select("doc_id", "shard", "pos")
        .orderBy("shard", "pos")
    )


# fractional-epoch mix: cycles 0.25x .. 3.75x across the 20 sources, so
# the query exercises pure downsampling (base 0), pure fractional
# repeats, and multi-epoch replication in one run
EPOCHS_PPM = {f"src{i}": (i % 8) * 500_000 + 250_000 for i in range(20)}

def _mix_spec_values() -> str:
    return ", ".join(f"('{s}', {p})" for s, p in EPOCHS_PPM.items())


@query(
    "q_mix_epochs",
    f"""
    WITH spec(source, eppm) AS (VALUES {_mix_spec_values()}),
    counts AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    ranked AS (
        SELECT doc_id, source,
               ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        FROM documents
    ),
    cop AS (
        SELECT r.doc_id, r.source,
               (s.eppm // 1000000)
               + CASE WHEN r.rn <= (c.n * (s.eppm % 1000000)) // 1000000
                      THEN 1 ELSE 0 END AS copies
        FROM ranked r JOIN spec s USING (source) JOIN counts c USING (source)
    ),
    expl AS (
        SELECT doc_id, source,
               CAST(unnest(generate_series(1, copies)) - 1 AS INT) AS epoch_idx
        FROM cop
    )
    SELECT source, epoch_idx, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS doc_id_sum
    FROM expl
    GROUP BY source, epoch_idx
    ORDER BY source, epoch_idx
    """,
)
def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional-epoch source mix (0.25x–3.75x cycling over the 20
    sources) realized by deterministic replication; audited per
    (source, epoch copy) with a doc_id checksum so the oracle pins
    EXACTLY which rows earned the fractional extra copy, not just how
    many.

    Scale: tiny per-source count broadcast back; per-source md5 ranking
    is the one data-sized exchange; replication is a map-side
    posexplode. The audit aggregate is |sources|x|epochs| rows.
    """
    from ..operators.sampling import mix_epochs

    d = table(spark, sf_dir, "documents")
    mixed = mix_epochs(d, EPOCHS_PPM)
    return (
        mixed.groupBy("source", "epoch_idx")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("doc_id_sum"),
        )
        .orderBy("source", "epoch_idx")
    )


@query(
    "q_mix_manifest",
    """
    WITH counts AS (
        SELECT source, COUNT(*) AS n_docs,
               SUM(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                        AS BIGINT)) AS n_tokens
        FROM documents GROUP BY source
    ),
    w AS (
        SELECT source, n_docs, n_tokens,
               CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
                   AS sqrt_w
        FROM counts
    ),
    tot AS (SELECT SUM(sqrt_w) AS wtot, SUM(n_tokens) AS ttot FROM w)
    SELECT w.source, CAST(w.n_docs AS BIGINT) AS n_docs,
           CAST(w.n_tokens AS BIGINT) AS n_tokens,
           CAST(w.sqrt_w * 1000000 // t.wtot AS BIGINT) AS target_share_ppm,
           CAST(w.n_tokens * 1000000 // t.ttot AS BIGINT) AS natural_share_ppm,
           CAST(w.sqrt_w * 1000000 // t.wtot AS BIGINT)
               - CAST(w.n_tokens * 1000000 // t.ttot AS BIGINT) AS shift_ppm
    FROM w, tot t
    ORDER BY w.source
    """,
)
def q_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-card mixing manifest: per source, its natural token
    share versus the sqrt-temperature target share (alpha = 1/2, the
    same correctly-rounded integer weights as q_sample_temperature) and
    the signed ppm shift the resampler will apply — the one-page table
    a training run's data card publishes before any rows move.

    Scale: one aggregate to |sources| rows; everything after is
    model-sized arithmetic. IEEE sqrt is correctly rounded, so the
    integer weights replay exactly in the oracle.
    """
    from ..operators.text import token_count_expr

    d = table(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_expr().cast("bigint")).alias("n_tokens"),
    )
    w = counts.withColumn(
        "sqrt_w",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1_000_000).cast(
            "bigint"
        ),
    )
    tot = w.agg(
        F.sum("sqrt_w").alias("wtot"), F.sum("n_tokens").alias("ttot")
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("sqrt_w * 1000000 DIV wtot").alias("target_share_ppm"),
            F.expr("n_tokens * 1000000 DIV ttot").alias("natural_share_ppm"),
            F.expr(
                "sqrt_w * 1000000 DIV wtot - n_tokens * 1000000 DIV ttot"
            ).alias("shift_ppm"),
        )
        .orderBy("source")
    )


@query(
    "q_sample_weighted",
    """
    WITH wt AS (
        SELECT doc_id, source,
               CAST(1 + least(4, n_chars // 100) AS BIGINT) AS weight
        FROM documents),
    keyed AS (
        SELECT doc_id, source, weight,
               list_max(list_transform(
                   generate_series(1, CAST(weight AS INT)),
                   j -> md5('ws:' || doc_id || ':' || j))) AS es_key
        FROM wt)
    SELECT doc_id, source, weight, es_key
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirtakis):
    100 documents drawn with probability proportional to a 1..5 size
    tier, via the integer-exact max-of-w-md5 selection key.

    Scale: zero-shuffle per-row keys + TakeOrderedAndProject top-n —
    no global sort, no data shuffle.
    """
    from ..operators.sampling import weighted_sample

    d = table(spark, sf_dir, "documents").withColumn(
        "weight", F.expr("CAST(1 + least(4, n_chars DIV 100) AS BIGINT)")
    )
    return weighted_sample(
        d.select("doc_id", "source", "weight"), "doc_id", "weight", 100
    )


_TS_CUT1 = "2024-01-20"
_TS_CUT2 = "2024-01-25"


@query(
    "q_split_temporal",
    f"""
    WITH labeled AS (
        SELECT user_id,
               CASE WHEN ts < TIMESTAMP '{_TS_CUT1}' THEN 'train'
                    WHEN ts < TIMESTAMP '{_TS_CUT2}' THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN ts < TIMESTAMP '{_TS_CUT1}' THEN 0
                    WHEN ts < TIMESTAMP '{_TS_CUT2}' THEN 1
                    ELSE 2 END AS split_idx
        FROM events),
    per_user AS (
        SELECT user_id, split, split_idx, COUNT(*) AS n
        FROM labeled GROUP BY 1, 2, 3),
    first AS (
        SELECT user_id, MIN(split_idx) AS first_idx
        FROM per_user GROUP BY 1)
    SELECT p.split, CAST(p.split_idx AS INT) AS split_idx,
           CAST(SUM(p.n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN f.first_idx < p.split_idx THEN 1 ELSE 0 END)
                AS BIGINT) AS n_returning_users
    FROM per_user p JOIN first f USING (user_id)
    GROUP BY 1, 2
    ORDER BY split_idx
    """,
)
def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal holdout carve of the event stream (train < 01-20 ≤ val
    < 01-25 ≤ test) with the returning-user audit: per split, events,
    distinct users, and users already seen in an earlier split — the
    identity-overlap number a leakage review needs even when the
    time boundaries are sound.

    Scale (operators/sampling.temporal_split/-_audit): the label is a
    zero-shuffle when() chain (prunes date partitions); the audit is
    one user-keyed shuffle + a per-split aggregate.
    """
    from ..operators.sampling import temporal_split, temporal_split_audit

    e = table(spark, sf_dir, "events")
    labeled = temporal_split(
        e, "ts", [("train", _TS_CUT1), ("val", _TS_CUT2), ("test", None)]
    )
    return temporal_split_audit(labeled, "user_id")
