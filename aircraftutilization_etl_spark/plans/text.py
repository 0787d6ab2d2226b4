"""Text-analysis queries over the documents table (operators/text.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.text import (
    ENGLISH_STOPWORDS,
    bpe_token_count_expr,
    fingerprint_expr,
    lang_id_expr,
    mean_word_length_expr,
    punct_ratio_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
)
from ..functions.localrel import inline_values_df
from ..operators.distribute import ensure_scan_parallelism
from .catalog import query, table

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)

# Shared SQL fragments replicating the Spark expressions exactly.
_WORDS = "regexp_split_to_array(trim(text), '\\s+')"
_MWL = (
    f"list_sum(list_transform({_WORDS}, w -> length(w)))"
    f" / greatest(len({_WORDS}), 1)"
)
_STOP_RATIO = (
    f"len(list_filter({_WORDS}, w -> lower(w) IN ({_STOPWORDS_SQL})))"
    f" / greatest(len({_WORDS}), 1)"
)
_PUNCT_RATIO = (
    "(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')))"
    " / greatest(length(text), 1)"
)
_N_TOKENS = f"len({_WORDS})"


@query(
    "q_text_quality",
    f"""
    SELECT doc_id, lang, source,
           CAST({_N_TOKENS} AS INT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                AS INT) AS n_bpe_tokens,
           ROUND({_MWL}, 4) AS mean_word_len,
           ROUND({_STOP_RATIO}, 4) AS stopword_ratio,
           ROUND({_PUNCT_RATIO}, 4) AS punct_ratio,
           ROUND((
               (CASE WHEN {_N_TOKENS} >= 20 THEN 1.0
                     ELSE {_N_TOKENS} / 20.0 END)
             + (CASE WHEN {_MWL} BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
             + (1.0 - least({_PUNCT_RATIO} * 5, 1.0))
           ) / 3, 4) AS quality_score,
           CASE WHEN {_STOP_RATIO} > 0.05 THEN 'en' ELSE 'unknown' END
               AS predicted_lang
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics: token counts (whitespace + BPE-ish),
    word-shape, stopword/punctuation ratios, composite quality score,
    stopword-heuristic language ID.

    Scale: pure per-row map over the scan — no shuffle at any corpus
    size; all expressions JVM-side (SURVEY.md 'UDFs are the slow path').
    """
    # Spread an under-partitioned scan before the metric kernel (r12 —
    # unlocked by rotating this query out of the frozen-sentinel set):
    # the interpreted stopword fold ran as one ~0.6 s single-task stage
    # on the scan's single split at bench scale; no-op at corpus scale.
    d = ensure_scan_parallelism(
        table(spark, sf_dir, "documents"), "doc_id"
    )
    # Layered projection: each raw metric (notably the interpreted
    # stopword fold) is evaluated once per row; the output layer only
    # rounds/derives. Multi-reference of the raw aliases keeps
    # CollapseProject from re-inlining them.
    raw = d.select(
        "doc_id",
        "lang",
        "source",
        token_count_expr().alias("__n_tokens"),
        bpe_token_count_expr().alias("__n_bpe"),
        mean_word_length_expr().alias("__mwl"),
        stopword_ratio_expr().alias("__stop"),
        punct_ratio_expr().alias("__punct"),
    )
    return raw.select(
        "doc_id",
        "lang",
        "source",
        F.col("__n_tokens").cast("int").alias("n_tokens"),
        F.col("__n_bpe").cast("int").alias("n_bpe_tokens"),
        F.round("__mwl", 4).alias("mean_word_len"),
        F.round("__stop", 4).alias("stopword_ratio"),
        F.round("__punct", 4).alias("punct_ratio"),
        quality_score_expr(
            n_tokens=F.col("__n_tokens"),
            mwl=F.col("__mwl"),
            punct=F.col("__punct"),
        ).alias("quality_score"),
        lang_id_expr(stop_ratio=F.col("__stop")).alias("predicted_lang"),
    )  # no orderBy: global sort would re-run the metrics for sampling


@query(
    "q_text_fingerprint",
    """
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           CAST(length(text) AS BIGINT) AS text_len,
           CAST(length(text) // 100 AS BIGINT) AS len_bucket
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5 content fingerprint + length bucketing — the
    primitive under exact dedup; md5 hex is identical across engines."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint_expr().alias("fingerprint"),
        F.length("text").cast("bigint").alias("text_len"),
        F.floor(F.length("text") / 100).cast("bigint").alias("len_bucket"),
    )


@query(
    "q_text_lang_stats",
    f"""
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(AVG({_N_TOKENS}), 4) AS avg_tokens
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup by (lang, source) with token averages."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg(token_count_expr()), 4).alias("avg_tokens"),
        )
        .orderBy("lang", "source")
    )


@query(
    "q_text_tfidf_top_terms",
    """
    WITH toks AS (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
        FROM documents
    ),
    tf AS (
        SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE term <> '' GROUP BY doc_id, term
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT doc_id, term, tf, df,
           ROUND(tf * LN((n_docs + 1.0) / (df + 1.0)), 6) AS tfidf
    FROM (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df, n.n_docs,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY tf.tf DESC, dfreq.df ASC, tf.term
               ) AS rn
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) ranked
    WHERE rn <= 5
    ORDER BY doc_id, term
    """,
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 salient terms per document by TF-IDF (smoothed idf =
    ln((N+1)/(df+1))).

    Ranking uses the integer-exact key (tf DESC, df ASC, term) — the
    float tfidf is emitted but never drives row selection, so an
    engine's last-ulp log() difference can't flip which terms are
    chosen. df is derived from the tf relation (count of docs containing
    the term), so the corpus is exploded exactly once.

    Scale: one explode + one (doc_id, term) partial-aggregated shuffle;
    document frequency and the rank run over the tf relation (corpus
    vocabulary x docs containing it), never the raw token stream; the
    1-row corpus count broadcasts.
    """
    d = table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim("text"), "\\s+")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.col("term")
    )
    return (
        tf.join(dfreq, "term")
        .join(F.broadcast(n_docs))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )


_PII_AUG_SQL = (
    "text || ' Contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example or +1 555-01'"
    " || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    " || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'"
)
_PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE = "\\+[0-9][0-9()\\- ]{6,}[0-9]"
_PII_IPV4 = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


@query(
    "q_text_pii_redact",
    f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_SQL} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(t, '{_PII_IPV4}')) AS BIGINT)
               AS n_ipv4,
           md5(regexp_replace(regexp_replace(regexp_replace(
               t, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IPV4}', '<IPV4>', 'g')) AS redacted_md5
    FROM aug
    ORDER BY doc_id
    """,
)
def q_text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub for training data: count and redact emails, phone
    numbers, and IPv4 addresses. Synthetic PII derived from doc_id is
    appended to each document (the corpus itself is clean), so every row
    exercises all three patterns; the oracle replays the identical
    augmentation, counts, and replacement chain, and the md5 of the
    redacted text must match byte-for-byte — the strongest check a
    redaction pass can get.

    Patterns stay in the Java/RE2-common regex subset (no word
    boundaries, no lookaround) so both engines match identically; see
    operators/text.py PII_PATTERNS. Scale: per-row regex maps, zero
    shuffles, whole-stage codegen — scan-bound at 100 TB.
    """
    from ..operators.text import pii_count_expr, redact_pii_expr

    d = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            did.cast("string"),
            F.lit("@mail.example or +1 555-01"),
            F.lpad((did % 100).cast("string"), 2, "0"),
            F.lit(" at 10.0."),
            (did % 256).cast("string"),
            F.lit(".7"),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        pii_count_expr("t", "email").cast("bigint").alias("n_emails"),
        pii_count_expr("t", "phone").cast("bigint").alias("n_phones"),
        pii_count_expr("t", "ipv4").cast("bigint").alias("n_ipv4"),
        F.md5(redact_pii_expr("t")).alias("redacted_md5"),
    ).orderBy("doc_id")


_WORDS_LOWER = f"list_transform({_WORDS}, w -> lower(w))"
_GRAMS5 = (
    "list_transform(range(1, greatest(len(words) - 4, 0) + 1),"
    " i -> array_to_string(list_slice(words, i, i + 4), ' '))"
)


@query(
    "q_text_repetition",
    f"""
    SELECT doc_id,
           CASE WHEN len(words) < 5 THEN 0.0
                ELSE round(1.0 - len(list_distinct(grams))
                           / CAST(len(grams) AS DOUBLE), 4)
           END AS rep_ratio
    FROM (
        SELECT doc_id, words, {_GRAMS5} AS grams
        FROM (SELECT doc_id, {_WORDS_LOWER} AS words FROM documents)
    )
    ORDER BY doc_id
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document 5-gram repetition ratio — the boilerplate /
    templated-text signal for pretraining-data curation (high ratio =
    repeated blocks, nav chrome, generated spam).

    Scale: pure per-row array expressions (sequence → transform →
    array_distinct), zero shuffles, streams with the scan. The oracle
    rebuilds the same gram list in DuckDB list algebra.
    """
    from ..operators.distribute import ensure_scan_parallelism
    from ..operators.text import ngram_repetition_expr

    # Spread the scan before the gram build (r11 opt): the per-row
    # kernel (word split + 5-gram sequence/transform + array_distinct)
    # is the single most expensive projection in the catalog (~10 s
    # serialized at bench scale), and the global sort's range-sampling
    # pass evaluates it a second time — profiled as TWO back-to-back
    # single-task ~10 s stages on the scan's single split. The
    # repartition parallelizes both passes; no-op at corpus scale.
    d = ensure_scan_parallelism(table(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id", ngram_repetition_expr().alias("rep_ratio")
    ).orderBy("doc_id")


@query(
    "q_text_unigram_logprob",
    """
    WITH words AS (
        SELECT doc_id, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    counts AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    total AS (SELECT SUM(c) AS t FROM counts)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(AVG(ln(c / t)), 4) + 0.0 AS logprob
    FROM words JOIN counts USING (w) CROSS JOIN total
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean unigram log-probability of each document under the corpus's
    own unigram model — the cheap perplexity proxy that ranks documents
    by naturalness (garbled/rare-token docs score sharply negative).

    Scale (operators/text.py unigram_logprob): one shuffle to build the
    token model (map-side combine), a vocabulary-sized join AQE can
    broadcast, one shuffle for the per-doc mean.
    """
    from ..operators.text import unigram_logprob

    d = table(spark, sf_dir, "documents")
    return unigram_logprob(d).orderBy("doc_id")


TOKEN_BUDGET = 20_000


@query(
    "q_token_budget_select",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CAST({_N_TOKENS} AS BIGINT) AS n_tokens,
               ROUND((
                   (CASE WHEN {_N_TOKENS} >= 20 THEN 1.0
                         ELSE {_N_TOKENS} / 20.0 END)
                 + (CASE WHEN {_MWL} BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
                 + (1.0 - least({_PUNCT_RATIO} * 5, 1.0))
               ) / 3, 4) AS quality_score
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens, quality_score,
               SUM(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, n_tokens, quality_score, CAST(cum_tokens AS BIGINT)
               AS cum_tokens
    FROM ranked
    WHERE cum_tokens <= {TOKEN_BUDGET}
    ORDER BY quality_score DESC, doc_id
    """,
)
def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-capped corpus selection: greedily take the
    highest-quality documents (ties → smallest id) until the cumulative
    token count reaches the training budget — the "fill the context
    budget with the best data" selection every data-constrained
    training run performs.

    Scale: the cumulative sum is the two-phase range-partitioned
    formulation (operators/sampling.global_running_sum) — each task
    sorts only its quality range and a partition-count-sized prefix
    table supplies the offsets, instead of the single-partition global
    window Spark would otherwise plan (correct, but a scale cliff).
    """
    d = table(spark, sf_dir, "documents")
    from ..operators.sampling import global_running_sum

    raw = d.select(
        "doc_id",
        token_count_expr().cast("bigint").alias("n_tokens"),
        token_count_expr().alias("__n_tokens"),
        mean_word_length_expr().alias("__mwl"),
        punct_ratio_expr().alias("__punct"),
    )
    scored = raw.select(
        "doc_id",
        "n_tokens",
        quality_score_expr(
            n_tokens=F.col("__n_tokens"),
            mwl=F.col("__mwl"),
            punct=F.col("__punct"),
        ).alias("quality_score"),
    )
    cum = global_running_sum(
        scored,
        [F.desc("quality_score"), F.asc("doc_id")],
        "n_tokens",
        out_col="cum_tokens",
    )
    return cum.filter(F.col("cum_tokens") <= TOKEN_BUDGET).select(
        "doc_id", "n_tokens", "quality_score", "cum_tokens"
    )


def _shingles_cte() -> str:
    from .dedup import _SHINGLES_SQL

    return _SHINGLES_SQL


REPEATED_MIN_DOCS = 4
REPEATED_TOPK = 50


@query(
    "q_text_repeated_ngrams",
    f"""
    WITH {_shingles_cte()}
    SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM shingles
    GROUP BY shingle
    HAVING COUNT(*) >= {REPEATED_MIN_DOCS}
    ORDER BY n_docs DESC, md5(shingle)
    LIMIT {REPEATED_TOPK}
    """,
)
def q_text_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate mining: the 50 word-3-grams shared by
    the most distinct documents — the repeated-substring audit that
    catches templated headers/footers/license blocks which no
    whole-document dedup flags.

    Scale (operators/text.repeated_ngrams): one shingle-keyed shuffle
    with map-side combine (distinct shingles per doc → one partial per
    task per shingle), top-k via TakeOrderedAndProject — no global
    sort. Tie-break at the cut is md5(shingle): raw string order is
    engine-divergent on supplementary-plane characters (UTF-16 code
    units vs UTF-8 bytes), hex digests are not.
    """
    from ..operators.text import repeated_ngrams

    d = table(spark, sf_dir, "documents")
    return repeated_ngrams(d, REPEATED_MIN_DOCS, REPEATED_TOPK)


@query(
    "q_text_boilerplate",
    f"""
    WITH {_shingles_cte()},
    common AS (
        SELECT shingle FROM shingles
        GROUP BY shingle HAVING COUNT(*) >= {REPEATED_MIN_DOCS}
    ),
    commons AS (
        SELECT s.doc_id, COUNT(*) AS n_common
        FROM shingles s JOIN common c USING (shingle)
        GROUP BY s.doc_id
    )
    SELECT z.doc_id,
           CAST(z.n_shingles AS BIGINT) AS n_shingles,
           CAST(COALESCE(m.n_common, 0) AS BIGINT) AS n_common,
           CAST(COALESCE(m.n_common, 0) * 1000000 // z.n_shingles
                AS BIGINT) AS boilerplate_ppm
    FROM sizes z LEFT JOIN commons m USING (doc_id)
    ORDER BY z.doc_id
    """,
)
def q_text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate share: the ppm fraction of a document's
    distinct shingles that are corpus-common (>= 4 docs) — high scores
    mark templated/diffusely-remixed documents that exact and near-dup
    dedup both miss.

    Scale (operators/text.boilerplate_scores): the common set is the
    heavy tail of the shingle count — tiny — so membership is a
    broadcast join over the exploded shingles; two data-sized shuffles
    total (shingle count, per-doc agg), both map-side combined.
    Integer-ppm output, engine-exact.
    """
    from ..operators.text import boilerplate_scores

    d = table(spark, sf_dir, "documents")
    return boilerplate_scores(d, REPEATED_MIN_DOCS)


BM25_QUERIES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("q_join", ("hash", "join")),
    ("q_stream", ("stream", "window", "batch")),
    ("q_customer", ("customer", "filter")),
)
BM25_TOPK = 10
_BM25_TERMS_VALUES = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in BM25_QUERIES for t in terms
)


@query(
    "q_text_bm25_topk",
    f"""
    WITH qterms(query_id, term) AS (VALUES {_BM25_TERMS_VALUES}),
    words AS (
        SELECT doc_id, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM words GROUP BY 1),
    stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
    postings AS (
        SELECT q.query_id, q.term, tf.doc_id, tf.tf
        FROM tf JOIN qterms q ON tf.w = q.term
    ),
    dft AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
    scored AS (
        SELECT p.query_id, p.doc_id,
               ROUND(SUM(
                   ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / s.avgdl))
               ), 6) AS score
        FROM postings p
          JOIN dft d USING (term)
          JOIN dl l USING (doc_id)
          CROSS JOIN stats s
        GROUP BY p.query_id, p.doc_id
    )
    SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score
    FROM (
        SELECT query_id, doc_id, score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rank
        FROM scored
    )
    WHERE rank <= {BM25_TOPK}
    ORDER BY query_id, rank
    """,
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: top-10 documents for three fixed keyword
    queries under Okapi BM25 (k1=1.2, b=0.75) — the keyword-search
    primitive of corpus curation and the hybrid partner to the
    embedding ANN queries.

    Determinism: scores round to 6dp BEFORE ranking, ties break by
    doc_id, so the cut is engine-reproducible even where ln() differs
    in the last ulp.

    Scale (operators/text.bm25_topk): query terms broadcast into the
    postings join so only matching postings leave the corpus pass;
    per-term df and the 2-value stats broadcast back; no full-corpus
    scoring — cost tracks posting-list sizes, not |corpus|².
    """
    from ..operators.text import bm25_topk

    d = table(spark, sf_dir, "documents")
    qt = inline_values_df(
        spark,
        [(qid, t) for qid, terms in BM25_QUERIES for t in terms],
        "query_id string, term string",
    )
    return bm25_topk(d, qt, BM25_TOPK)


@query(
    "q_text_bigram_logprob",
    """
    WITH words AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ),
    bigrams AS (
        SELECT doc_id,
               lower(w[CAST(i AS INT)]) AS w1,
               lower(w[CAST(i + 1 AS INT)]) AS w2
        FROM words, LATERAL unnest(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY 1)
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln(m.c12 * 1.0 / h.c1)), 4) + 0.0 AS logprob
    FROM bigrams b
      JOIN c12 m USING (w1, w2)
      JOIN c1 h USING (w1)
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean bigram conditional log-probability per document under the
    corpus's own transition model — ranks documents by fluency where
    the unigram proxy can't (word salad with common words).

    Scale (operators/text.bigram_logprob): bigrams built map-side by
    array algebra (no window, no per-doc sort); model aggregate with
    map-side combine; AQE broadcasts the head-count join side; one
    doc-keyed mean.
    """
    from ..operators.text import bigram_logprob

    d = table(spark, sf_dir, "documents")
    return bigram_logprob(d).orderBy("doc_id")


BPE_N_MERGES = 8


def _bpe_ctes() -> str:
    """CTE chain replaying every BPE round (kmeans-oracle style): the
    hash match certifies each round's argmax pair AND the merged vocab
    it produced, not just the final merge table."""
    parts = [
        """
    bpe_words AS (
        SELECT lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE regexp_matches(lower(t.w), '^[a-z0-9]+$')
    ),
    vocab0 AS (
        SELECT regexp_replace(w, '(.)', '\\1|', 'g') AS repr,
               COUNT(*) AS wc
        FROM bpe_words GROUP BY w
    )"""
    ]
    for i in range(1, BPE_N_MERGES + 1):
        parts.append(f"""
    pairs{i} AS (
        SELECT s[CAST(j AS INT)] AS w1, s[CAST(j + 1 AS INT)] AS w2,
               SUM(wc) AS c
        FROM (SELECT str_split(repr, '|') AS s, wc FROM vocab{i - 1}) t,
             LATERAL unnest(range(1, len(s) - 1)) AS u(j)
        GROUP BY 1, 2
    )""")
        parts.append(f"""
    best{i} AS (
        SELECT w1, w2, c FROM pairs{i} ORDER BY c DESC, w1, w2 LIMIT 1
    )""")
        # LEFT JOIN ON TRUE, not a cross join: a round with NO pairs
        # left (every word fully merged, or a pairless degenerate
        # corpus of 1-char words) makes best{i} empty, and a cross
        # join would wipe the whole vocabulary — the engine keeps the
        # vocab and stops merging, so the oracle must too
        parts.append(f"""
    vocab{i} AS (
        SELECT CASE WHEN b.w1 IS NULL THEN repr
                    ELSE replace(repr, b.w1 || '|' || b.w2 || '|',
                                 b.w1 || b.w2 || '|') END AS repr, wc
        FROM vocab{i - 1} LEFT JOIN best{i} b ON TRUE
    )""")
    return ",".join(parts)


_BPE_FINAL = " UNION ALL ".join(
    f"SELECT {i} AS rank, w1 AS \"left\", w2 AS \"right\", "
    f"w1 || w2 AS merged, CAST(c AS BIGINT) AS pair_count FROM best{i}"
    for i in range(1, BPE_N_MERGES + 1)
)


@query(
    "q_text_bpe_merges",
    f"""
    WITH {_bpe_ctes()}
    SELECT * FROM ({_BPE_FINAL}) ORDER BY rank
    """,
)
def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training on the engine: the first 8 BPE merge rules
    learned from the corpus (Sennrich-style — repeatedly merge the
    most frequent adjacent symbol pair over the frequency-weighted
    word vocabulary). Ties break (count DESC, left, right); pair
    merging is left-to-right non-overlapping, identical in both
    engines, so the oracle's unrolled CTE chain replays every round.

    Scale (operators/text.bpe_merges): after one data-sized shuffle
    (word counts), the working state is the distinct-word vocabulary —
    corpus-size-independent; each round is a vocab-sized pair count
    plus a map-side replace, lineage truncated per round; the driver
    sees exactly one argmax row per round.
    """
    from ..operators.text import bpe_merges

    d = table(spark, sf_dir, "documents")
    return bpe_merges(d, BPE_N_MERGES)


def _script_sql() -> tuple[str, str]:
    """(count column SQL, dominant CASE SQL) generated from the same
    class table the Spark expressions use — one source of truth."""
    from ..operators.text import _SCRIPT_CLASSES

    counts = {
        name: (
            "(length(text) - length("
            f"regexp_replace(text, '{re2}', '', 'g')))"
        )
        for name, _, re2 in _SCRIPT_CLASSES
    }
    cols = ", ".join(
        f"CAST({expr} AS BIGINT) AS n_{name}" for name, expr in counts.items()
    )
    mx = "greatest(" + ", ".join(counts.values()) + ")"
    case = "CASE WHEN " + mx + " = 0 THEN 'other' " + " ".join(
        f"WHEN {expr} = {mx} THEN '{name}'"
        for name, expr in counts.items()
    ) + " END"
    return cols, case


_SCRIPT_COLS, _SCRIPT_CASE = _script_sql()


@query(
    "q_text_script_profile",
    f"""
    SELECT doc_id, lang, {_SCRIPT_COLS},
           {_SCRIPT_CASE} AS dominant_script
    FROM documents
    ORDER BY doc_id
    """,
)
def q_text_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition per document (latin/digit/CJK/
    Cyrillic/Greek character counts + dominant class) — what a doc's
    BYTES are, against what its lang label claims; mixed-script docs
    are the classic mojibake/injection symptom a multilingual curation
    pipeline screens for.

    Scale: pure codegen'd string expressions over the scan — zero
    shuffles, zero Python; the Spark and oracle predicates are
    generated from one class table (Java vs RE2 syntax).
    """
    from ..operators.text import dominant_script_expr, script_profile_exprs

    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        *script_profile_exprs(),
        dominant_script_expr(),
    )


INDEX_MIN_DF = 5
INDEX_POSTINGS = 10


@query(
    "q_text_inverted_index",
    f"""
    WITH words AS (
        SELECT doc_id, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    tf AS (SELECT w AS term, doc_id, COUNT(*) AS tf FROM words GROUP BY 1, 2)
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string(
               (list(doc_id || ':' || tf ORDER BY tf DESC, doc_id)
                )[1:{INDEX_POSTINGS}], ',') AS postings
    FROM tf
    GROUP BY term
    HAVING COUNT(*) >= {INDEX_MIN_DF}
    ORDER BY term
    """,
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-shape inverted index: per term, document frequency,
    total tf, and the impact-ordered top-10 postings (comma-joined
    'doc:tf' string, tf-descending) — the layout a search engine
    stores so scoring can early-exit; pairs with q_text_bm25_topk as
    the build side of lexical retrieval.

    r8: postings scalarized (array_join / array_to_string) — the
    driver's canonicalizer cannot sort array-typed output columns
    (r7's one red row); and the per-term posting list is now bounded
    at k BEFORE collection via a row_number window (hot-term state was
    previously unbounded at df).

    Scale (operators/text.inverted_index): one corpus pass with
    map-side combine; rank window + frame aggregates share one term
    exchange; per-term collect state is bounded at k postings.
    """
    from ..operators.text import inverted_index

    d = table(spark, sf_dir, "documents")
    return inverted_index(d, INDEX_MIN_DF, INDEX_POSTINGS)


@query(
    "q_text_quality_calibrated",
    f"""
    WITH scored AS (
        SELECT doc_id, source,
               ROUND((
                   (CASE WHEN {_N_TOKENS} >= 20 THEN 1.0
                         ELSE {_N_TOKENS} / 20.0 END)
                 + (CASE WHEN {_MWL} BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
                 + (1.0 - least({_PUNCT_RATIO} * 5, 1.0))
               ) / 3, 4) AS quality_score
        FROM documents
    )
    SELECT doc_id, source, quality_score,
           CAST((RANK() OVER (PARTITION BY source ORDER BY quality_score)
                 - 1) * 1000000
                // greatest(COUNT(*) OVER (PARTITION BY source) - 1, 1)
                AS BIGINT) AS pct_ppm
    FROM scored
    ORDER BY doc_id
    """,
)
def q_text_quality_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source quality percentile (integer ppm, ties share the
    min rank) — the calibration step before any global quality cut:
    raw scores aren't comparable across sources, so curation thresholds
    at 'bottom N% of each source', not a global score.

    Scale (operators/text.quality_calibrated): one shuffle on the
    source for the rank window (per-group bound as stratified
    sampling); scores computed in the same pass; pure integer DIV for
    the percentile so both engines agree exactly.
    """
    from ..operators.text import quality_calibrated

    d = table(spark, sf_dir, "documents")
    return quality_calibrated(d)


_WORDS_LOWER = f"list_transform({_WORDS}, w -> lower(w))"
_GOPHER_TOP = (
    f"list_max(list_transform(list_distinct({_WORDS_LOWER}),"
    f" w -> len(list_filter({_WORDS_LOWER}, x -> x = w))))"
    f" / greatest({_N_TOKENS}, 1)"
)
_GOPHER_ALPHA = (
    f"len(list_filter({_WORDS}, w -> regexp_matches(w, '[A-Za-z]')))"
    f" / greatest({_N_TOKENS}, 1)"
)
_GOPHER_STOPS = (
    f"len(list_filter([{_STOPWORDS_SQL}],"
    f" s -> list_contains({_WORDS_LOWER}, s)))"
)


@query(
    "q_text_gopher_rules",
    f"""
    WITH m AS (
        SELECT doc_id, source,
               {_N_TOKENS} AS n_words,
               {_MWL} AS mwl,
               {_GOPHER_TOP} AS top_share,
               {_GOPHER_ALPHA} AS alpha_ratio,
               {_GOPHER_STOPS} AS n_stops
        FROM documents
    )
    SELECT doc_id, source,
           CAST(n_words AS INT) AS n_words,
           ROUND(mwl, 4) AS mean_word_len,
           ROUND(top_share, 4) AS top_word_share,
           ROUND(alpha_ratio, 4) AS alpha_word_ratio,
           CAST(n_stops AS INT) AS n_distinct_stopwords,
           n_words BETWEEN 30 AND 100000 AS f_word_count,
           mwl BETWEEN 3.0 AND 10.0 AS f_mean_word_len,
           top_share <= 0.125 AS f_repetition,
           alpha_ratio >= 0.8 AS f_alpha_words,
           n_stops >= 2 AS f_stopwords,
           (n_words BETWEEN 30 AND 100000) AND (mwl BETWEEN 3.0 AND 10.0)
               AND top_share <= 0.125 AND alpha_ratio >= 0.8
               AND n_stops >= 2 AS passes
    FROM m
    ORDER BY doc_id
    """,
)
def q_text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style hard rule gate (Rae et al. 2021 §A1.1):
    word-count bounds, mean-word-length bounds, top-word repetition
    share, alphabetic-word ratio, distinct-stopword floor — a doc must
    clear EVERY rule. Complements the blended q_text_quality score: rule
    gates are auditable (each flag says WHY a doc died), which is what
    curation post-mortems need.

    Scale: per-row map over the scan, zero shuffles, zero Python; the
    repetition fold is O(per-doc vocab × doc len) per row.
    """
    from ..operators.text import gopher_flags, gopher_metrics

    d = table(spark, sf_dir, "documents")
    m = gopher_metrics()
    raw = d.select(
        "doc_id",
        "source",
        m["n_words"].alias("__n"),
        m["mean_word_len"].alias("__mwl"),
        m["top_word_share"].alias("__top"),
        m["alpha_word_ratio"].alias("__alpha"),
        m["n_distinct_stopwords"].alias("__stops"),
    )
    flags = gopher_flags(
        {
            "n_words": F.col("__n"),
            "mean_word_len": F.col("__mwl"),
            "top_word_share": F.col("__top"),
            "alpha_word_ratio": F.col("__alpha"),
            "n_distinct_stopwords": F.col("__stops"),
        }
    )
    return raw.select(
        "doc_id",
        "source",
        F.col("__n").cast("int").alias("n_words"),
        F.round("__mwl", 4).alias("mean_word_len"),
        F.round("__top", 4).alias("top_word_share"),
        F.round("__alpha", 4).alias("alpha_word_ratio"),
        F.col("__stops").cast("int").alias("n_distinct_stopwords"),
        flags["f_word_count"].alias("f_word_count"),
        flags["f_mean_word_len"].alias("f_mean_word_len"),
        flags["f_repetition"].alias("f_repetition"),
        flags["f_alpha_words"].alias("f_alpha_words"),
        flags["f_stopwords"].alias("f_stopwords"),
        (
            flags["f_word_count"]
            & flags["f_mean_word_len"]
            & flags["f_repetition"]
            & flags["f_alpha_words"]
            & flags["f_stopwords"]
        ).alias("passes"),
    )


DSIR_TARGET_SOURCE = "src0"


@query(
    "q_text_dsir_weights",
    f"""
    WITH words AS (
        SELECT doc_id, source = '{DSIR_TARGET_SOURCE}' AS tgt, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    counts AS (
        SELECT w, COUNT(*) AS cr, COUNT(*) FILTER (tgt) AS ct
        FROM words GROUP BY w
    ),
    totals AS (
        SELECT SUM(cr) AS tr, SUM(ct) AS tt, COUNT(*) AS v FROM counts
    ),
    model AS (
        SELECT w, ln((ct + 1) / (tt + v)) - ln((cr + 1) / (tr + v)) AS lr
        FROM counts CROSS JOIN totals
    ),
    scored AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(lr), 4) + 0.0 AS dsir_logratio
        FROM words JOIN model USING (w)
        GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, dsir_logratio,
           CAST(ROW_NUMBER() OVER (ORDER BY dsir_logratio DESC, doc_id)
                AS BIGINT) AS dsir_rank
    FROM scored
    ORDER BY doc_id
    """,
)
def q_text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every doc scored by
    ``avg ln(p_target/p_raw)`` under add-1-smoothed unigram models, with
    the target domain defined as ``source = 'src0'``; ``dsir_rank``
    orders the corpus for importance resampling (rank over the ROUNDED
    score + doc id, so the cut is engine-portable).

    Scale (operators/text.dsir_logratio): one token shuffle builds BOTH
    models via conditional aggregation, vocab-sized model join (AQE
    broadcasts), one doc shuffle for the reduce; the global rank is a
    single ordered window — at 100 TB swap it for the range-partitioned
    two-phase rank (operators/sampling's running-count pattern) if the
    full ordering must materialize rather than a top-N cut.
    """
    from pyspark.sql.window import Window

    from ..operators.text import dsir_logratio

    d = table(spark, sf_dir, "documents")
    scored = dsir_logratio(d, F.col("source") == DSIR_TARGET_SOURCE)
    w = Window.orderBy(F.desc("dsir_logratio"), "doc_id")
    return scored.select(
        "doc_id",
        "n_tokens",
        "dsir_logratio",
        F.row_number().over(w).cast("bigint").alias("dsir_rank"),
    )


@query(
    "q_text_bpe_encode",
    f"""
    WITH {_bpe_ctes()},
    encoder AS (
        SELECT replace(repr, '|', '') AS w,
               len(str_split(repr, '|')) - 1 AS wtoks
        FROM vocab{BPE_N_MERGES}
    ),
    docw AS (
        SELECT doc_id, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE regexp_matches(lower(t.w), '^[a-z0-9]+$')
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(wtoks) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(length(w)) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(length(w)) AS DOUBLE)
                 / CAST(SUM(wtoks) AS DOUBLE), 4) AS compression
    FROM docw JOIN encoder USING (w)
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-trained BPE tokenizer to every document: per-doc
    token counts and chars-per-token compression under the learned
    vocabulary. The oracle re-trains the tokenizer via the same unrolled
    round-by-round CTE chain as q_text_bpe_merges, then encodes through
    the final vocabulary's segmentations — a hash match certifies
    training AND encoding end to end.

    Scale (operators/text.bpe_encode): training state is vocab-sized;
    encoding is a broadcast word→tokens join plus one per-doc reduce —
    no re-segmentation of the corpus, no Python.
    """
    from ..operators.text import bpe_encode

    d = table(spark, sf_dir, "documents")
    return bpe_encode(d, BPE_N_MERGES).orderBy("doc_id")


@query(
    "q_text_source_divergence",
    """
    WITH words AS (
        SELECT source, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    vocab AS (SELECT w, COUNT(*) AS cc FROM words GROUP BY w),
    vstats AS (SELECT SUM(cc) AS tc, COUNT(*) AS v FROM vocab),
    src AS (
        SELECT source, w, COUNT(*) AS cs FROM words GROUP BY source, w
    ),
    stot AS (SELECT source, SUM(cs) AS ts FROM src GROUP BY source),
    -- add-1 smoothing over the corpus vocabulary: unseen words
    -- contribute p_s = 1/(ts+v) mass; sum them via the complement
    seen AS (
        SELECT s.source,
               SUM((s.cs + 1.0) / (t.ts + vs.v)
                   * (ln((s.cs + 1.0) / (t.ts + vs.v))
                      - ln((c.cc + 1.0) / (vs.tc + vs.v)))) AS kl_seen,
               SUM((s.cs + 1.0)) AS mass_num,
               COUNT(*) AS n_seen
        FROM src s JOIN vocab c USING (w)
             JOIN stot t USING (source) CROSS JOIN vstats vs
        GROUP BY s.source
    ),
    unseen AS (
        SELECT s.source,
               SUM(1.0 / (t.ts + vs.v)
                   * (ln(1.0 / (t.ts + vs.v))
                      - ln((c.cc + 1.0) / (vs.tc + vs.v)))) AS kl_unseen
        FROM (SELECT DISTINCT source FROM documents) s
             CROSS JOIN vocab c
             JOIN stot t ON t.source = s.source
             CROSS JOIN vstats vs
        WHERE NOT EXISTS (SELECT 1 FROM src x
                          WHERE x.source = s.source AND x.w = c.w)
        GROUP BY s.source
    )
    SELECT seen.source,
           CAST(seen.n_seen AS BIGINT) AS n_seen_words,
           ROUND(seen.kl_seen + COALESCE(unseen.kl_unseen, 0), 4)
               AS kl_nats
    FROM seen LEFT JOIN unseen ON unseen.source = seen.source
    ORDER BY seen.source
    """,
)
def q_text_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(p_source || p_corpus) over add-1
    smoothed unigram distributions — the domain-drift gauge a corpus
    monitor runs per ingest source (a source whose language diverges
    from the mix gets curation attention before training).

    Scale (operators/text.source_divergence): token shuffle → (source,
    word) counts; the divergence sum runs over source×vocab — the
    smoothed formulation needs the unseen-word mass too, generated by a
    vocab×source grid minus the seen set (both vocabulary-sized, never
    corpus-sized). All Python-free; ln at the edge, rounded.
    """
    from ..operators.text import source_divergence

    d = table(spark, sf_dir, "documents")
    return source_divergence(d).orderBy("source")


@query(
    "q_text_zipf_spectrum",
    """
    WITH words AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
        FROM documents
    ),
    f AS (SELECT w, COUNT(*) AS freq FROM words GROUP BY w),
    cls AS (
        SELECT CASE WHEN freq >= 11 THEN 11 ELSE freq END AS freq_class,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(freq) AS BIGINT) AS occurrences
        FROM f GROUP BY 1
    ),
    tot AS (SELECT SUM(occurrences) AS total_occ FROM cls)
    SELECT CAST(freq_class AS INT) AS freq_class, n_words, occurrences,
           CAST(occurrences * 1000000 // total_occ AS BIGINT) AS mass_ppm
    FROM cls, tot
    ORDER BY freq_class
    """,
)
def q_text_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus frequency-of-frequency spectrum (frequency classes 1..10,
    11+ pooled): how many distinct words occur exactly f times and what
    share of all tokens they carry — the hapax/Zipf shape that flags
    OCR noise (bloated hapax class) or templated text (mass piled on
    the head) before training a tokenizer on the corpus.

    Scale: one explode + two cascading aggregates, all map-side
    combinable; the spectrum is <= 11 rows and the total is a scalar
    broadcast. No joins over data-sized frames.
    """
    d = table(spark, sf_dir, "documents")
    words = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    )
    f = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    cls = (
        f.groupBy(
            F.when(F.col("freq") >= 11, 11)
            .otherwise(F.col("freq"))
            .cast("int")
            .alias("freq_class")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum("freq").cast("bigint").alias("occurrences"),
        )
    )
    tot = cls.agg(F.sum("occurrences").alias("t"))
    return (
        cls.crossJoin(F.broadcast(tot))
        .select(
            "freq_class",
            "n_words",
            "occurrences",
            F.expr("occurrences * 1000000 DIV t").alias("mass_ppm"),
        )
        .orderBy("freq_class")
    )


N_PHASES = 4


@query(
    "q_curriculum_phases",
    f"""
    WITH scored AS (
        SELECT doc_id,
               CAST({_N_TOKENS} AS BIGINT) AS n_tokens,
               ROUND((
                   (CASE WHEN {_N_TOKENS} >= 20 THEN 1.0
                         ELSE {_N_TOKENS} / 20.0 END)
                 + (CASE WHEN {_MWL} BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
                 + (1.0 - least({_PUNCT_RATIO} * 5, 1.0))
               ) / 3, 4) AS quality_score
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens, quality_score,
               ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS rn,
               COUNT(*) OVER () AS total
        FROM scored
    )
    SELECT CAST((rn - 1) * {N_PHASES} // total AS BIGINT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(quality_score) AS min_score,
           MAX(quality_score) AS max_score
    FROM ranked
    GROUP BY (rn - 1) * {N_PHASES} // total
    ORDER BY phase
    """,
)
def q_curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum carve: the corpus split into 4 equal-population
    phases by descending quality score (phase 0 = cleanest quartile),
    with per-phase doc/token totals and score envelopes — the
    quality-ordered schedule a curriculum-learning run feeds from.

    Scale: the global quality rank routes through the two-phase
    range-partitioned running count (ascending on the NEGATED rounded
    score — same total order as the oracle's DESC rank), never a
    single-partition window; the phase audit is a 4-row aggregate.
    """
    from ..operators.sampling import global_running_sum
    from ..operators.text import quality_score_expr, token_count_expr

    d = table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        token_count_expr().cast("bigint").alias("n_tokens"),
        F.round(quality_score_expr(F.col("text")), 4).alias("quality_score"),
    ).withColumn("__negq", -F.col("quality_score"))
    total = scored.count()
    indexed = global_running_sum(
        scored.withColumn("__one", F.lit(1)),
        order_cols=["__negq", "doc_id"],
        value_col="__one",
        out_col="__rn",
    )
    return (
        indexed.withColumn(
            "phase", F.expr(f"(__rn - 1) * {N_PHASES} DIV {total}")
        )
        .groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("quality_score").alias("min_score"),
            F.max("quality_score").alias("max_score"),
        )
        .orderBy("phase")
    )


@query(
    "q_text_heldout_logprob",
    """
    WITH tagged AS (
        SELECT doc_id, text,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'cccd' AS in_train
        FROM documents
    ),
    train_words AS (
        SELECT lower(t.w) AS w
        FROM tagged, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE in_train
    ),
    model AS (SELECT w, COUNT(*) AS c FROM train_words GROUP BY w),
    stats AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM model),
    heldout_words AS (
        SELECT doc_id, lower(t.w) AS w
        FROM tagged, UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
        WHERE NOT in_train
    )
    SELECT h.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN m.c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           ROUND(AVG(ln((COALESCE(m.c, 0) + 1.0) / (s.t + s.v))), 4)
               + 0.0 AS logprob
    FROM heldout_words h
      LEFT JOIN model m USING (w)
      CROSS JOIN stats s
    GROUP BY h.doc_id
    ORDER BY h.doc_id
    """,
)
def q_text_heldout_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROPER held-out language-model evaluation: the add-1 unigram
    model trains on the 80% md5-split train docs only, and scores the
    held-out 20% (per-doc mean log-prob + OOV count) — unlike
    q_text_unigram_logprob, which scores the corpus under its own
    model, this is the uncontaminated eval a data pipeline reports.

    Scale: the model build is one shuffle with map-side combine over
    train tokens; scoring is a vocabulary-sized LEFT join (AQE
    broadcasts it) + one per-doc aggregate. The split is the same
    zero-shuffle md5 projection as q_split_train_val.
    """
    from ..operators.sampling import hash_split
    from ..operators.text import words_expr

    d = hash_split(
        table(spark, sf_dir, "documents"),
        "doc_id",
        {"train": 0.8, "heldout": 0.2},
    )
    words = d.select(
        "doc_id",
        "split",
        F.explode(words_expr()).alias("w0"),
    ).select("doc_id", "split", F.lower("w0").alias("w"))
    model = (
        words.filter(F.col("split") == "train")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = model.agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("v")
    )
    heldout = words.filter(F.col("split") == "heldout")
    return (
        heldout.join(model, "w", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            # + 0.0: -0.0 discipline for signed rounded statistics
            (
                F.round(
                    F.avg(
                        F.log(
                            (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                            / (F.col("t") + F.col("v"))
                        )
                    ),
                    4,
                )
                + 0.0
            ).alias("logprob"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_span_corruption",
    """
    WITH base AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents),
    seg AS (SELECT doc_id, w, len(w) AS n, len(w) // 8 AS nseg FROM base),
    sp AS (
        SELECT doc_id, w, n, nseg,
               list_transform(generate_series(0, nseg - 1),
                 i -> CAST(i * 8
                      + CAST(CAST('0x' || substr(md5('sc:' || doc_id || ':' || i), 1, 8)
                                  AS BIGINT) % 7 AS INT) AS INT)) AS starts
        FROM seg),
    toks AS (
        SELECT doc_id, nseg, starts, w,
               list_transform(generate_series(0, n - 1), p ->
                 CASE WHEN p // 8 < nseg AND p = starts[p // 8 + 1]
                      THEN '<extra_id_' || p // 8 || '>'
                      WHEN p // 8 < nseg AND p > starts[p // 8 + 1]
                           AND p < starts[p // 8 + 1] + 2
                      THEN NULL
                      ELSE w[p + 1] END) AS tok
        FROM sp)
    SELECT doc_id, CAST(nseg AS INT) AS n_spans,
           array_to_string(list_filter(tok, t -> t IS NOT NULL), ' ')
               AS input_text,
           array_to_string(list_transform(generate_series(0, nseg - 1),
             i -> '<extra_id_' || i || '> '
                  || array_to_string(w[starts[i+1] + 1 : starts[i+1] + 2], ' ')),
             ' ') AS target_text
    FROM toks
    ORDER BY doc_id
    """,
)
def q_text_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption pretraining pairs: one deterministic 2-word
    span masked per 8-word window, sentinel-delimited (input_text,
    target_text) per document.

    Scale (operators/text.span_corruption): pure per-row array algebra
    inside codegen — zero shuffles, zero Python; placement is
    md5(id:window)-derived so examples are corpus-stable and the
    oracle replays every mask byte-for-byte.
    """
    from ..operators.text import span_corruption

    d = table(spark, sf_dir, "documents")
    return span_corruption(d)


TFIDF_PAIR_THRESHOLD = 0.6


@query(
    "q_text_tfidf_pairs",
    f"""
    WITH words AS (
        SELECT doc_id, lower(t.w) AS term
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    n AS (SELECT COUNT(*) AS n FROM documents),
    dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    weighted AS (
        SELECT tf.doc_id, tf.term, tf.tf * ln(n.n / d.df) AS w
        FROM tf JOIN dft d USING (term) CROSS JOIN n
        WHERE d.df <= n.n * 0.5),
    norms AS (
        SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM weighted GROUP BY 1),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.w * b.w) AS dot
        FROM weighted a JOIN weighted b USING (term)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
    SELECT id_a, id_b,
           ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
      JOIN norms na ON na.doc_id = id_a
      JOIN norms nb ON nb.doc_id = id_b
    WHERE ROUND(dot / (na.nrm * nb.nrm), 6) >= {TFIDF_PAIR_THRESHOLD}
    ORDER BY id_a, id_b
    """,
)
def q_text_tfidf_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical near-dup pairs by TF-IDF cosine ≥ 0.6 — rare shared
    terms dominate, stopword-grade terms (df > N/2) dropped from the
    index before the join.

    Scale (operators/text.tfidf_cosine_pairs): pairs form only through
    the term-keyed inverted-index join (Σ df² work, never corpus²);
    the df cut removes the quadratic hot-term hazard; 6-dp rounding
    before the threshold keeps the pair set engine-exact.
    """
    from ..operators.text import tfidf_cosine_pairs

    d = table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(d, TFIDF_PAIR_THRESHOLD)


SKIPGRAM_TOPK = 50
SKIPGRAM_NEG = 2


@query(
    "q_text_skipgram_pairs",
    f"""
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS wr
        FROM documents),
    pairs AS (
        SELECT lower(wr[CAST(i AS INT)]) AS center,
               lower(wr[CAST(j AS INT)]) AS context
        FROM w,
             LATERAL unnest(range(1, len(wr) + 1)) u(i),
             LATERAL unnest(range(greatest(i - 2, 1),
                                  least(i + 2, len(wr)) + 1)) v(j)
        WHERE j <> i AND len(wr) > 1),
    counted AS (
        SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1, 2),
    top AS (
        SELECT * FROM counted
        ORDER BY n_pairs DESC, center, context LIMIT {SKIPGRAM_TOPK}),
    words2 AS (
        SELECT lower(t.w) AS word
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)),
    vocab AS (
        SELECT word,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, word) - 1 AS idx
        FROM words2 GROUP BY word),
    vs AS (SELECT COUNT(*) AS v FROM vocab),
    probes AS (
        SELECT center, context, n_pairs, s.j,
               CAST(CAST('0x' || substr(md5(center || ':' || context || ':' || s.j),
                                        1, 8) AS BIGINT) % v AS BIGINT) AS idx
        FROM top CROSS JOIN vs,
             LATERAL unnest(range(1, {SKIPGRAM_NEG} + 1)) s(j))
    SELECT center, context, n_pairs,
           string_agg(word, '|' ORDER BY j) AS negatives
    FROM probes JOIN vocab USING (idx)
    GROUP BY 1, 2, 3
    ORDER BY n_pairs DESC, center, context
    """,
)
def q_text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram training pairs: the 50 most frequent (center, context)
    word pairs within ±2 positions, each with 2 deterministic
    md5-drawn negatives from the frequency-ranked vocabulary —
    word2vec-style embedding training data with dataset-card-exact
    negative sampling.

    Scale (operators/text.skipgram_pairs/-_with_negatives): pair
    generation is per-row array algebra (no self-join); one pair-keyed
    count shuffle; top-k via TakeOrderedAndProject; negatives resolve
    through a broadcast join against the model-sized vocab index.
    """
    from ..operators.text import skipgram_with_negatives

    d = table(spark, sf_dir, "documents")
    return skipgram_with_negatives(d, SKIPGRAM_TOPK, SKIPGRAM_NEG)


PMI_MIN_COUNT = 5
PMI_TOPK = 50


@query(
    "q_text_pmi_collocations",
    f"""
    WITH words AS (
        SELECT regexp_split_to_array(trim(text), '\\s+') AS w
        FROM documents
    ),
    bigrams AS (
        SELECT lower(w[CAST(i AS INT)]) AS w1,
               lower(w[CAST(i + 1 AS INT)]) AS w2
        FROM words, LATERAL unnest(range(1, len(w))) AS u(i)
        WHERE len(w) >= 2
    ),
    c12 AS (
        SELECT w1, w2, COUNT(*) AS pair_count FROM bigrams
        GROUP BY 1, 2 HAVING COUNT(*) >= {PMI_MIN_COUNT}
    ),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY 1),
    c2 AS (SELECT w2, COUNT(*) AS c2 FROM bigrams GROUP BY 1),
    tot AS (SELECT COUNT(*) AS b FROM bigrams)
    SELECT m.w1, m.w2, CAST(m.pair_count AS BIGINT) AS pair_count,
           ROUND(ln((m.pair_count * t.b * 1.0) / (h.c1 * g.c2)), 6)
               + 0.0 AS pmi
    FROM c12 m JOIN c1 h USING (w1) JOIN c2 g USING (w2)
         CROSS JOIN tot t
    ORDER BY pmi DESC, m.w1, m.w2
    LIMIT {PMI_TOPK}
    """,
)
def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-word collocations by pointwise mutual
    information (min pair count 5) — the phrase-mining primitive that
    feeds tokenizer vocabularies and stop-phrase lists: PMI ranks
    pairs that co-occur far above chance under the corpus's own bigram
    model, where raw frequency would just return stopword pairs.

    Determinism: exact BIGINT counts; the single ln per pair is a
    correctly-rounded scalar op over exact integers (same expression
    both engines); rounded-PMI + word-pair total order makes the top-50
    cut reproducible.

    Scale (operators/text.pmi_collocations): map-side bigram algebra,
    three count shuffles, 1-row total broadcast, TakeOrderedAndProject
    top-k — no global sort, no window, vocabulary-sized intermediates.
    """
    from ..operators.text import pmi_collocations

    d = table(spark, sf_dir, "documents")
    return pmi_collocations(d, PMI_MIN_COUNT, PMI_TOPK)


@query(
    "q_mix_diversity",
    """
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS nl FROM cells
            GROUP BY 1)
    SELECT c.lang,
           CAST(MAX(t.nl) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           ROUND(-SUM((c.n * 1.0 / t.nl) * ln(c.n * 1.0 / t.nl)), 6)
               + 0.0 AS shannon_entropy,
           CAST(SUM(c.n * (c.n - 1)) * 1000000
                // (MAX(t.nl) * (MAX(t.nl) - 1)) AS BIGINT)
               AS simpson_ppm
    FROM cells c JOIN tot t USING (lang)
    GROUP BY c.lang
    ORDER BY c.lang
    """,
)
def q_mix_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity indices per language — the data-card numbers
    that say whether a slice is one crawl in a trench coat: Shannon
    entropy of the source mix (exp(H) = effective source count) and
    the Simpson collision index as exact integer ppm (probability two
    random docs share a source, small = diverse). Low entropy on a big
    slice is the single-source-dominance warning every mixing policy
    (q_mix_manifest's sqrt-temperature targets) exists to fix.

    Determinism: Simpson is pure BIGINT (Σn(n−1) over N(N−1));
    Shannon sums ≤ |sources| ln terms of exact ratios, rounded at the
    edge.

    Scale: one (lang, source) rollup with map-side combine, a
    lang-sized join, a lang-count result.
    """
    d = table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    tot = cells.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nl"))
    p = F.col("n") * 1.0 / F.col("nl")
    return (
        cells.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.max("nl").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            # + 0.0: single-source language gives p=1 → -SUM = -0.0;
            # DuckDB ROUND keeps the sign, Spark's does not (-0.0
            # discipline)
            (F.round(-F.sum(p * F.log(p)), 6) + 0.0).alias(
                "shannon_entropy"
            ),
            # MAX(nl) > 1 guards the one-document language (N(N-1)=0):
            # DuckDB's // by zero yields NULL, Spark's ANSI DIV raises —
            # the CASE makes both engines emit NULL for the undefined
            # collision index. No-op for any 2+-doc language.
            F.expr(
                "CAST(CASE WHEN MAX(nl) > 1 THEN SUM(n * (n - 1)) * 1000000"
                " DIV (MAX(nl) * (MAX(nl) - 1)) END AS BIGINT)"
            ).alias("simpson_ppm"),
        )
        .orderBy("lang")
    )


@query(
    "q_text_vocab_growth",
    """
    WITH d10 AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY doc_id) AS rn,
               COUNT(*) OVER () AS nd
        FROM documents
    ),
    chk AS (
        SELECT dec, MAX(doc_id) AS thr FROM (
            SELECT doc_id, CAST(CEIL(rn * 10.0 / nd) AS INT) AS dec
            FROM d10)
        GROUP BY dec
    ),
    words AS (
        SELECT doc_id, lower(t.w) AS w
        FROM documents,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    firsts AS (SELECT w, MIN(doc_id) AS fd FROM words GROUP BY w),
    vocab AS (
        SELECT c.dec, CAST(COUNT(*) AS BIGINT) AS vocab_size
        FROM firsts f JOIN chk c ON f.fd <= c.thr
        GROUP BY c.dec
    ),
    toks AS (
        SELECT c.dec,
               CAST(COUNT(DISTINCT w.doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM words w JOIN chk c ON w.doc_id <= c.thr
        GROUP BY c.dec
    )
    SELECT t.dec AS decile, t.n_docs, t.n_tokens, v.vocab_size
    FROM toks t JOIN vocab v ON v.dec = t.dec
    ORDER BY decile
    """,
)
def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: distinct-word count at each
    corpus decile (docs taken in id order) against cumulative tokens —
    sublinear growth flattening out says the corpus is saturating its
    domain vocabulary; a curve that keeps climbing linearly says the
    ingest is still discovering new content (or new noise). The
    number-one tokenizer-sizing and corpus-saturation diagnostic.

    Determinism: each word's introducing document is MIN(doc_id) —
    the same first-occurrence machinery as the novelty audit; all
    counts exact integers.

    Scale: the decile thresholds come from a window over the DOCUMENT
    REGISTRY (id + row number — registry-sized, not corpus-sized); the
    vocabulary side is one (word → min doc) aggregate with map-side
    combine and a 10-row threshold join; token counts likewise. At
    real scale the threshold join is a broadcast of 10 rows.
    """
    d = table(spark, sf_dir, "documents")
    from ..operators.text import words_expr

    d10 = d.select(
        "doc_id",
        F.row_number().over(Window.orderBy("doc_id")).alias("rn"),
    ).crossJoin(F.broadcast(d.agg(F.count(F.lit(1)).alias("nd"))))
    chk = (
        d10.select(
            "doc_id",
            F.ceil(F.col("rn") * 10.0 / F.col("nd")).cast("int").alias(
                "dec"
            ),
        )
        .groupBy("dec")
        .agg(F.max("doc_id").alias("thr"))
    )
    words = d.select(
        "doc_id", F.explode(words_expr()).alias("w0")
    ).select("doc_id", F.lower("w0").alias("w"))
    firsts = words.groupBy("w").agg(F.min("doc_id").alias("fd"))
    vocab = (
        firsts.join(F.broadcast(chk), F.col("fd") <= F.col("thr"))
        .groupBy("dec")
        .agg(F.count(F.lit(1)).cast("bigint").alias("vocab_size"))
    )
    toks = (
        words.join(F.broadcast(chk), F.col("doc_id") <= F.col("thr"))
        .groupBy("dec")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )
    return (
        toks.join(vocab, "dec")
        .select(
            F.col("dec").alias("decile"), "n_docs", "n_tokens", "vocab_size"
        )
        .orderBy("decile")
    )


@query(
    "q_text_drift_js",
    """
    WITH tagged AS (
        SELECT CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                         < '8' THEN 'a' ELSE 'b' END AS half,
               text
        FROM documents
    ),
    words AS (
        SELECT half, lower(t.w) AS w
        FROM tagged,
             UNNEST(regexp_split_to_array(trim(text), '\\s+')) AS t(w)
    ),
    counts AS (
        SELECT w,
               SUM(CASE WHEN half = 'a' THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN half = 'b' THEN 1 ELSE 0 END) AS cb
        FROM words GROUP BY w
    ),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS ta,
               CAST(SUM(cb) AS BIGINT) AS tb,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM counts
    ),
    ps AS (
        SELECT (ca + 1.0) / (ta + v) AS pa,
               (cb + 1.0) / (tb + v) AS pb
        FROM counts CROSS JOIN tot
    )
    SELECT CAST(MAX(t.ta) AS BIGINT) AS tokens_a,
           CAST(MAX(t.tb) AS BIGINT) AS tokens_b,
           CAST(MAX(t.v) AS BIGINT) AS vocab,
           ROUND(0.5 * SUM(pa * ln(pa / ((pa + pb) / 2)))
                 + 0.5 * SUM(pb * ln(pb / ((pa + pb) / 2))), 6) + 0.0
               AS js_divergence
    FROM ps CROSS JOIN tot t
    """,
)
def q_text_drift_js(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-distribution drift between two md5 ingest halves:
    Jensen-Shannon divergence of their add-1-smoothed unigram models —
    the third leg of the drift-monitor triple (q_drift_ks for values,
    q_emb_drift for embedding space, this for token space). JS is
    symmetric and bounded by ln 2, so the alert threshold is absolute;
    two halves of one corpus give the near-zero healthy baseline.

    Determinism: both model denominators come from exact BIGINTs; the
    JS sum is vocabulary-many ln terms rounded at the edge (the same
    budget the per-source KL divergence holds at sf0.1).

    Scale: ONE token shuffle builds both halves' counts (conditional
    sums in the same aggregate — not two scans), a 1-row total, and a
    vocabulary-sized map-side fold into the final scalar.
    """
    from ..operators.text import words_expr

    d = table(spark, sf_dir, "documents")
    tagged = d.select(
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8",
            F.lit("a"),
        )
        .otherwise(F.lit("b"))
        .alias("half"),
        F.explode(words_expr()).alias("w0"),
    ).select("half", F.lower("w0").alias("w"))
    counts = tagged.groupBy("w").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("ta"),
        F.sum("cb").cast("bigint").alias("tb"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    pa = (F.col("ca") + 1.0) / (F.col("ta") + F.col("v"))
    pb = (F.col("cb") + 1.0) / (F.col("tb") + F.col("v"))
    m = (pa + pb) / 2
    return (
        counts.crossJoin(F.broadcast(tot))
        .agg(
            F.max("ta").cast("bigint").alias("tokens_a"),
            F.max("tb").cast("bigint").alias("tokens_b"),
            F.max("v").cast("bigint").alias("vocab"),
            (
                F.round(
                    0.5 * F.sum(pa * F.log(pa / m))
                    + 0.5 * F.sum(pb * F.log(pb / m)),
                    6,
                )
                + 0.0
            ).alias("js_divergence"),
        )
    )
