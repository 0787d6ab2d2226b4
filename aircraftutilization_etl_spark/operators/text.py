"""Text-analysis operators for large-scale training-data pipelines.

Language-ID (stopword heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting — all as native
column expressions (JVM-side, codegen'd; no Python UDFs), designed to run
over billions of documents: every metric is a per-row map, so the plan is
scan → project with zero shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.localrel import inline_values_df
from .distribute import CORPUS_CACHE, cache, ensure_scan_parallelism

# BPE-ish pre-tokenizer: letter runs, digit runs, or single non-space —
# the same regex DuckDB's RE2 and Java's regex engine agree on.
BPE_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

ENGLISH_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def normalized_text() -> Column:
    """``text`` lowercased with whitespace collapsed — canonical form for
    fingerprints."""
    return F.trim(F.regexp_replace(F.lower(F.col("text")), "\\s+", " "))


def words_expr(col: Column | str = "text") -> Column:
    """Whitespace tokenization."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), "\\s+")


def token_count_expr(col: Column | str = "text") -> Column:
    """Whitespace token count."""
    return F.size(words_expr(col))


def bpe_token_count_expr() -> Column:
    """BPE-ish token count via the pre-tokenizer regex."""
    c = F.col("text")
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_PATTERN), 0))


def stopword_ratio_expr() -> Column:
    """Fraction of ``text``'s whitespace tokens that are English
    stopwords."""
    words = words_expr()
    hits = F.size(
        F.filter(words, lambda w: F.lower(w).isin(*ENGLISH_STOPWORDS))
    )
    return hits / F.greatest(F.size(words), F.lit(1))


def punct_ratio_expr(col: Column | str = "text") -> Column:
    """Punctuation characters per character."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, "[^A-Za-z0-9\\s]", ""))
    return n_punct / F.greatest(F.length(c), F.lit(1))


def mean_word_length_expr(col: Column | str = "text") -> Column:
    words = words_expr(col)
    return F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    ) / F.greatest(F.size(words), F.lit(1))


def quality_score_expr(
    col: Column | str = "text",
    *,
    n_tokens: Column | None = None,
    mwl: Column | None = None,
    punct: Column | None = None,
) -> Column:
    """Composite [0,1] quality score: length, word shape, punctuation.

    A Gopher/C4-style heuristic: penalize very short docs, extreme mean
    word lengths and punctuation-heavy text. Deterministic and
    SQL-expressible so the oracle can replicate it exactly.

    Pass pre-materialized ``n_tokens``/``mwl``/``punct`` columns when
    combining with other metrics over the same text so the underlying
    arrays are computed once per row (see q_text_quality).
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tokens = token_count_expr(c) if n_tokens is None else n_tokens
    mwl = mean_word_length_expr(c) if mwl is None else mwl
    punct = punct_ratio_expr(c) if punct is None else punct
    len_ok = F.when(n_tokens >= 20, F.lit(1.0)).otherwise(n_tokens / F.lit(20.0))
    word_ok = F.when((mwl >= 3) & (mwl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    punct_ok = F.lit(1.0) - F.least(punct * 5, F.lit(1.0))
    return F.round((len_ok + word_ok + punct_ok) / 3, 4)


def lang_id_expr(*, stop_ratio: Column | None = None) -> Column:
    """Stopword-hit language heuristic: 'en' when English stopwords make
    up over 5% of tokens, else 'unknown'. (A real lang-ID model plugs in
    behind the same column contract.)"""
    ratio = stopword_ratio_expr() if stop_ratio is None else stop_ratio
    return F.when(ratio > 0.05, F.lit("en")).otherwise(F.lit("unknown"))


# --- Gopher-style rule gate ------------------------------------------------
#
# Rule-based document filtering in the style of the Gopher/MassiveText
# curation rules (Rae et al. 2021, §A1.1): hard per-document predicates
# rather than a blended score — a doc must clear EVERY rule to enter the
# training corpus. Thresholds are constructor arguments; the defaults are
# tuned to this corpus's scale so each rule actually discriminates.
#
# Every rule is a per-row map over the words array (no shuffle, no
# Python), so the gate costs one projection over the scan at any corpus
# size, and composes with the curation funnel's other stages in the same
# single-pass plan.

GOPHER_DEFAULTS = {
    "min_words": 30,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_top_word_share": 0.125,
    "min_alpha_word_ratio": 0.8,
    "min_distinct_stopwords": 2,
}


def gopher_metrics() -> dict[str, Column]:
    """The raw per-doc measurements of ``text`` the Gopher rules
    threshold.

    ``top_word_share`` (fraction of tokens taken by the single most
    frequent token — Gopher's repetition screen) is an O(v·n) per-row
    fold over the distinct words; v is the per-doc vocabulary, so this
    stays cheap even for long documents.
    """
    words = words_expr()
    words_lower = F.transform(words, F.lower)
    n = F.size(words)
    top_count = F.array_max(
        F.transform(
            F.array_distinct(words_lower),
            lambda w: F.size(F.filter(words_lower, lambda x: x == w)),
        )
    )
    alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    stops = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS]),
            lambda s: F.array_contains(words_lower, s),
        )
    )
    return {
        "n_words": n,
        "mean_word_len": mean_word_length_expr(),
        "top_word_share": top_count / F.greatest(n, F.lit(1)),
        "alpha_word_ratio": alpha / F.greatest(n, F.lit(1)),
        "n_distinct_stopwords": stops,
    }


def gopher_flags(metrics: dict[str, Column]) -> dict[str, Column]:
    """Gopher rule booleans over pre-materialized metrics columns.

    Passing metrics in (rather than recomputing from text) lets the
    caller alias the raw measurements once per row and reference them
    from both the flags and the report output (see q_text_quality's
    layered-projection note).
    """
    t = GOPHER_DEFAULTS
    return {
        "f_word_count": metrics["n_words"].between(
            t["min_words"], t["max_words"]
        ),
        "f_mean_word_len": metrics["mean_word_len"].between(
            t["min_mean_word_len"], t["max_mean_word_len"]
        ),
        "f_repetition": metrics["top_word_share"] <= t["max_top_word_share"],
        "f_alpha_words": metrics["alpha_word_ratio"]
        >= t["min_alpha_word_ratio"],
        "f_stopwords": metrics["n_distinct_stopwords"]
        >= t["min_distinct_stopwords"],
    }


def fingerprint_expr() -> Column:
    """Deterministic document fingerprint: md5 of the normalized
    ``text``.

    md5 is engine-portable (identical hex in Spark and DuckDB), which the
    dedup/minhash operators rely on for their oracles.
    """
    return F.md5(normalized_text())


# --- PII redaction ---------------------------------------------------------
#
# Patterns live in the regex subset Java (Spark) and RE2 (DuckDB) interpret
# identically: character classes, bounded repetition, alternation — no word
# boundaries (\b is Unicode-aware in Java but ASCII in RE2, which diverges
# on accented text), no backreferences, no lookaround. Redaction order is
# fixed (emails first — they contain digits and dots that the ip/phone
# patterns could otherwise bite into).

PII_PATTERNS: dict[str, str] = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "\\+[0-9][0-9()\\- ]{6,}[0-9]",
    "ipv4": "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}",
}
_PII_ORDER = ("email", "phone", "ipv4")


def pii_count_expr(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (leftmost non-overlapping, the
    semantics Java and RE2 share) — audit metric for a dataset card."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind]))


def redact_pii_expr(col: Column | str = "text") -> Column:
    """Replace every PII match with a typed token (``<EMAIL>`` etc.).

    A per-row map over the text column: zero shuffles, streams with the
    scan, whole-stage codegen'd. At 100 TB this is the shape you want —
    redaction cost is one regex pass per pattern per row, embarrassingly
    parallel, no Python.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = c
    for kind in _PII_ORDER:
        out = F.regexp_replace(
            out, PII_PATTERNS[kind], f"<{kind.upper()}>"
        )
    return out


def ngram_repetition_expr() -> Column:
    """Fraction of within-document 5-gram repeats of ``text``: 1 -
    distinct/total word 5-grams (0.0 when the doc has fewer than 5
    words).

    The standard boilerplate/templated-text signal in pretraining-data
    curation. Pure per-row array work (sequence → transform →
    array_distinct): no shuffle, no Python; cost is O(words) per row.
    """
    words = F.transform(words_expr(), lambda w: F.lower(w))
    # sequence() must be guarded: Spark's sequence(1, 0) DESCENDS to
    # [1, 0] rather than returning empty, so short docs are handled by
    # the when() branch, never by an empty sequence
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - 4),
        lambda i: F.concat_ws(" ", F.slice(words, i, 5)),
    )
    return F.when(F.size(words) < 5, F.lit(0.0)).otherwise(
        F.round(
            1.0
            - F.size(F.array_distinct(grams))
            / F.size(grams).cast("double"),
            4,
        )
    )


def unigram_logprob(df: DataFrame) -> DataFrame:
    """Mean unigram log-probability per document under the corpus's own
    unigram model — the cheap perplexity proxy used to rank documents by
    'naturalness' in pretraining-data curation (a doc of rare/garbled
    tokens scores far more negative than one of common words).

    Two-pass shape: (1) one shuffle on the token to build the model
    (map-side combine ships distinct tokens per task, not instances);
    (2) tokens join the model on the token key — vocabulary is tiny
    relative to the corpus, so AQE typically broadcasts it — then one
    shuffle on the doc id for the per-doc mean. No Python anywhere.
    Output: (doc_id, n_tokens, logprob) with logprob rounded to 4dp at
    the edge.
    """
    words = df.select(
        "doc_id",
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    )
    counts = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    total = counts.agg(F.sum("__c").alias("__t"))
    model = counts.crossJoin(F.broadcast(total))
    return (
        words.join(model, "__w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0: -0.0 discipline — a degenerate corpus can
            # average to a tiny negative that rounds to signed zero
            (
                F.round(F.avg(F.log(F.col("__c") / F.col("__t"))), 4)
                + 0.0
            ).alias("logprob"),
        )
    )


def repeated_ngrams(df: DataFrame, min_docs: int, k: int) -> DataFrame:
    """Corpus-level repeated-n-gram mining: the top-k word-3-grams by
    the number of DISTINCT documents containing them — the boilerplate
    scan (headers, license blocks, templated navigation) that sits
    between within-document repetition (ngram_repetition_expr) and
    whole-document near-dup (MinHash LSH) in a dedup pipeline; cf. the
    repeated-substring findings of training-data dedup literature.

    Output: (shingle, n_docs), the k most-shared shingles with
    n_docs >= min_docs; ties at the cut broken by md5(shingle) so the
    limit is deterministic and engine-portable (raw string order is
    not: Java compares UTF-16 code units, DuckDB UTF-8 bytes — they
    disagree on supplementary-plane characters).

    Scale: one shuffle on the shingle key with map-side combine
    (documents contribute distinct shingles, so hot shingles send one
    partial count per task, not per occurrence); the top-k is
    TakeOrderedAndProject — no global sort.
    """
    from .dedup import doc_shingles

    sh = doc_shingles(df)
    counts = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        counts.filter(F.col("n_docs") >= min_docs)
        .select("shingle", F.col("n_docs").cast("long").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.md5("shingle"))
        .limit(k)
    )


def boilerplate_scores(df: DataFrame, min_docs: int) -> DataFrame:
    """Per-document boilerplate share: the fraction (integer ppm) of a
    document's distinct shingles that are corpus-common (contained in
    >= min_docs documents) — high scores mark templated/remixed
    documents that exact and near-dup dedup both miss because no single
    other document matches them.

    Output: (id, n_shingles, n_common, boilerplate_ppm) for every
    document with >= SHINGLE_N words.

    Scale: the common-shingle set is the heavy-hitter tail of the
    shingle-count aggregate — tiny relative to the corpus — so
    membership is a broadcast LEFT join over the exploded shingles
    with totals and common-hits counted in ONE doc-keyed aggregation:
    two shingle-explode passes total (count pass, probe pass) and two
    data-sized shuffles, both map-side combined. (A totals/commons
    split would re-explode the corpus a third time and pay an extra
    doc-keyed join.)
    """
    from .dedup import doc_shingles

    sh = doc_shingles(df)
    common = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("shingle", F.lit(1).alias("__hit"))
    )
    return (
        sh.join(F.broadcast(common), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.count("__hit").cast("long").alias("n_common"),
        )
        .withColumn(
            "boilerplate_ppm",
            F.expr("n_common * 1000000 DIV n_shingles"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: DataFrame,
    k: int = 10,
    exclude_self: bool = False,
) -> DataFrame:
    """BM25 keyword retrieval: top-k documents per query under the
    classic Okapi scoring — the lexical-search primitive of a corpus
    curation stack (and the standard hybrid-retrieval partner to the
    embedding ANN operators in operators/similarity.py).

    ``query_terms``: a small (query_id, term) frame — one row per
    query term, terms lowercased.

    score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with k1 = 1.2, b = 0.75;
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). Scores are rounded to
    6dp BEFORE ranking (ties then break by doc id), so the top-k cut
    is reproducible across engines — ranking raw doubles would let a
    last-ulp ln() difference flip near-equal neighbors.

    Scale: one corpus pass builds (doc, term, tf) and (doc, dl) with
    map-side combine; the query-term set broadcasts into the postings
    join, so only matching postings flow further; per-term df and the
    2-value corpus stats broadcast back; the doc-length join ships the
    candidate postings (small) against dl — AQE broadcasts the
    candidate side. The final per-query ranking partitions by query
    over candidate docs only. No full-corpus scoring anywhere.
    """
    words = df.select(
        F.col("doc_id"),
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    )
    tf = words.groupBy("doc_id", "__w").agg(F.count(F.lit(1)).alias("__tf"))
    # doc length is size(words) — a shuffle-free per-row projection,
    # NOT a second explode+aggregate pass over the corpus
    dl = df.select(
        F.col("doc_id"), F.size(words_expr()).alias("__dl")
    )
    stats = dl.agg(
        F.count(F.lit(1)).alias("__n"), F.avg("__dl").alias("__avgdl")
    )
    postings = tf.join(
        F.broadcast(query_terms), tf["__w"] == query_terms["term"]
    ).select("query_id", "term", "doc_id", "__tf")
    dft = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("__df")
    )
    scored = (
        postings.join(F.broadcast(dft), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(
                F.lit(1.0)
                + (F.col("__n") - F.col("__df") + 0.5)
                / (F.col("__df") + 0.5)
            ),
        )
        .withColumn(
            "__tfnorm",
            (F.col("__tf") * 2.2)
            / (
                F.col("__tf")
                + 1.2 * (0.25 + 0.75 * F.col("__dl") / F.col("__avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("__idf") * F.col("__tfnorm")), 6).alias("score"))
    )
    if exclude_self:
        # document-as-query retrieval: drop the query's own document
        # BEFORE ranking so downstream fusion sees gap-free ranks
        scored = scored.filter(F.col("doc_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", F.col("rank").cast("int"), "score")
    )


def bigram_logprob(df: DataFrame) -> DataFrame:
    """Mean bigram conditional log-probability per document under the
    corpus's own bigram model — the next step up from unigram_logprob
    as a naturalness proxy: word-salad documents whose unigrams are
    common but whose transitions are rare score sharply negative.

    P(w2|w1) = c(w1,w2) / c_head(w1), with c_head counting w1's
    occurrences as a bigram head (i.e. excluding document-final
    positions) so the conditional sums to exactly 1 per head and the
    oracle replays it exactly.

    Scale: bigrams are built map-side by array algebra (zip of the
    word array with its own tail — no window, no per-doc sort); then
    the same three-exchange shape as unigram_logprob: bigram-model
    aggregate, model join (AQE broadcasts the head-count side),
    per-doc mean. Documents with < 2 words drop (no transitions).
    """
    w = df.select(F.col("doc_id"), words_expr().alias("__ws"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("__ws") - 1),
        lambda i: F.struct(
            F.lower(F.element_at("__ws", i)).alias("w1"),
            F.lower(F.element_at("__ws", i + 1)).alias("w2"),
        ),
    )
    bigrams = (
        w.filter(F.size("__ws") >= 2)
        .select("doc_id", F.explode(pairs).alias("__p"))
        .select("doc_id", F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2"))
    )
    c12 = bigrams.groupBy("__w1", "__w2").agg(F.count(F.lit(1)).alias("__c12"))
    c1 = bigrams.groupBy("__w1").agg(F.count(F.lit(1)).alias("__c1"))
    return (
        bigrams.join(c12, ["__w1", "__w2"])
        .join(c1, "__w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # + 0.0: -0.0 discipline (see unigram_logprob)
            (
                F.round(F.avg(F.log(F.col("__c12") / F.col("__c1"))), 4)
                + 0.0
            ).alias("logprob"),
        )
    )


def bpe_merges(df: DataFrame, n_merges: int) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus —
    the tokenizer-training primitive: repeatedly merge the most
    frequent adjacent symbol pair across the (frequency-weighted) word
    vocabulary, exactly the Sennrich et al. procedure.

    Tokenizer-style pre-filter: words are lowercased and restricted to
    ^[a-z0-9]+$ (real BPE trainers pre-tokenize similarly; it also
    keeps the symbol alphabet disjoint from the '|' separator used in
    the delimited representation).

    Deterministic: the argmax pair breaks ties by (count DESC, left,
    right) over ASCII symbols; pair merging uses literal
    replace('l|r|' -> 'lr|'), whose left-to-right non-overlapping
    semantics are identical in Spark and DuckDB — so 'a|a|a|' merges
    to 'aa|a|', the BPE convention, on both engines, and the oracle
    replays every round bit-for-bit.

    Output: (rank, left, right, merged, pair_count), rank 1-based.

    Scale: the working state is the DISTINCT-WORD vocabulary with
    counts — corpus-size-independent after the first aggregation (the
    one data-sized shuffle). Each round is a vocab-sized pair
    explode/count plus a map-side replace; the driver collects exactly
    ONE row per round (the argmax pair), and lineage is truncated per
    round with an eager localCheckpoint so the plan doesn't grow with
    rank count.
    """
    merges, _ = _bpe_train(df, n_merges)
    spark = df.sparkSession
    return inline_values_df(
        spark,
        merges,
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def _bpe_train(
    df: DataFrame, n_merges: int
) -> tuple[list[tuple[int, str, str, str, int]], DataFrame]:
    """Shared BPE training loop → (merge rules, trained vocabulary).

    The returned vocabulary DataFrame is (__w, __repr, __wc): each
    distinct corpus word with its post-training delimited segmentation
    — i.e. the encoder's lookup table, already materialized as a free
    byproduct of training (the per-round replace IS encoding).
    """
    words = df.select(
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w")
    ).filter(F.col("__w").rlike("^[a-z0-9]+$"))
    vocab = (
        words.groupBy("__w")
        .agg(F.count(F.lit(1)).alias("__wc"))
        .select(
            "__w",
            F.regexp_replace("__w", "(.)", "$1|").alias("__repr"),
            "__wc",
        )
        .localCheckpoint(eager=True)
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        syms = F.split("__repr", "\\|")  # trailing empty element
        pairs = F.transform(
            F.sequence(F.lit(1), F.size(syms) - 2),
            lambda i: F.struct(
                F.element_at(syms, i).alias("w1"),
                F.element_at(syms, i + 1).alias("w2"),
            ),
        )
        counts = (
            vocab.filter(F.size(syms) >= 3)
            .select(F.explode(pairs).alias("__p"), "__wc")
            .groupBy(
                F.col("__p.w1").alias("__w1"), F.col("__p.w2").alias("__w2")
            )
            .agg(F.sum("__wc").alias("__c"))
        )
        best = counts.orderBy(
            F.desc("__c"), F.col("__w1"), F.col("__w2")
        ).limit(1).collect()
        if not best:
            break
        w1, w2, c = best[0]["__w1"], best[0]["__w2"], int(best[0]["__c"])
        merges.append((rank, w1, w2, w1 + w2, c))
        vocab = vocab.select(
            "__w",
            F.expr(
                "replace(__repr, "
                f"'{w1}|{w2}|', '{w1}{w2}|')"
            ).alias("__repr"),
            "__wc",
        ).localCheckpoint(eager=True)
    return merges, vocab


def bpe_encode(df: DataFrame, n_merges: int) -> DataFrame:
    """Tokenize every document with a BPE tokenizer trained on the same
    corpus — the counting side of tokenizer/data co-design: per-doc BPE
    token counts and the chars-per-token compression each doc achieves
    under the learned vocabulary (low compression = text the tokenizer
    segments poorly, a curation signal).

    Word-level encoding trick: documents are NOT re-segmented; the
    trained vocabulary (distinct word → merged segmentation, a free
    byproduct of training — see _bpe_train) is the encoder. Docs explode
    to words and join the vocab on the word key; per-word token count is
    ``len(split(repr)) - 1``. Zipf makes the vocab minuscule relative to
    the corpus, so the join broadcasts — encoding 100 TB is one
    map-side hash join + one per-doc reduce, no Python, no re-merge.

    Output: (id, n_words, n_bpe_tokens, n_chars, compression) over the
    tokenizer's [a-z0-9]+ word filter.
    """
    _, vocab = _bpe_train(df, n_merges)
    encoder = vocab.select(
        "__w",
        (F.size(F.split("__repr", "\\|")) - 1).alias("__wtoks"),
        F.length("__w").alias("__wlen"),
    )
    doc_words = df.select(
        "doc_id",
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    ).filter(F.col("__w").rlike("^[a-z0-9]+$"))
    return (
        doc_words.join(F.broadcast(encoder), "__w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__wtoks").alias("n_bpe_tokens"),
            F.sum("__wlen").alias("n_chars"),
            F.round(
                F.sum("__wlen") / F.sum("__wtoks"), 4
            ).alias("compression"),
        )
    )


_SCRIPT_CLASSES: tuple[tuple[str, str, str], ...] = (
    # (name, java_regex_class, re2_regex_class) — same ranges, two syntaxes
    ("latin", "[A-Za-z\\u00C0-\\u024F]", r"[A-Za-z\x{00C0}-\x{024F}]"),
    ("digit", "[0-9]", "[0-9]"),
    ("cjk", "[\\u4E00-\\u9FFF]", r"[\x{4E00}-\x{9FFF}]"),
    ("cyrillic", "[\\u0400-\\u04FF]", r"[\x{0400}-\x{04FF}]"),
    ("greek", "[\\u0370-\\u03FF]", r"[\x{0370}-\x{03FF}]"),
)


def script_profile_exprs() -> list[Column]:
    """Per-document Unicode-script composition: character counts per
    script class (latin/digit/CJK/Cyrillic/Greek), counted as
    length(text) - length(text with the class removed) — pure codegen'd
    string expressions, no explode, zero shuffles.

    The multilingual-pipeline primitive under language routing: a
    lang-ID label says what a doc claims to be, the script histogram
    says what its bytes are (mixed-script docs are the classic
    mojibake/injection symptom).
    """
    c = F.col("text")
    out = []
    for name, java_re, _ in _SCRIPT_CLASSES:
        out.append(
            (F.length(c) - F.length(F.regexp_replace(c, java_re, "")))
            .cast("long")
            .alias(f"n_{name}")
        )
    return out


def dominant_script_expr() -> Column:
    """Name of the script class with the highest character count; ties
    break by class order (latin first, via the when-chain's first-wins
    evaluation). 'other' when no class matches any character."""
    c = F.col("text")
    counts = [
        (name, F.length(c) - F.length(F.regexp_replace(c, java_re, "")))
        for name, java_re, _ in _SCRIPT_CLASSES
    ]
    mx = F.greatest(*[cnt for _, cnt in counts])
    best = None
    for name, cnt in counts:
        cond = (cnt == mx) & (mx > 0)
        best = F.when(cond, name) if best is None else best.when(cond, name)
    return best.otherwise("other").alias("dominant_script")


def inverted_index(
    df: DataFrame,
    min_df: int,
    postings_per_term: int,
) -> DataFrame:
    """Materialize a serving-shape inverted index: one row per term
    with document frequency, total term frequency, and the top
    ``postings_per_term`` postings as an ordered array of (doc, tf)
    structs — tf-descending, doc-id ascending on ties, the impact-
    ordered layout search engines store so scoring can early-exit.

    Only terms with df >= min_df are kept (the serving index's long
    tail is handled by the full postings table, not the hot shape).

    Scale (round-10 Zipf-head audit): one corpus pass to
    (doc, term, tf) with map-side combine, persisted for its two
    consumers. df/total_tf come from a map-side-combined groupBy on the
    term (partial aggregation absorbs the Zipf head) — NOT from
    whole-partition window aggregates, which would force a hot term's
    ENTIRE posting list through one window task AND defeat the
    WindowGroupLimit below (a limit cannot prune rows an unbounded
    frame still needs). The posting list is truncated by a
    ``row_number() <= postings_per_term`` filter, which Catalyst lowers
    to a map-side WindowGroupLimit: every shuffle task ships ≤ k rows
    per term, so a stopword-frequency term (billions of postings at
    100 TB) costs each task a top-k heap, never its full group. The
    per-term stats then join the ≤ k surviving postings per term — a
    1-row-per-key build side, both sides already term-partitioned.

    Output edge is all-scalar ('postings' is a comma-joined string,
    'doc:tf' impact-ordered) — array-typed output columns crash the
    driver harness's pandas canonicalizer (unhashable list).
    """
    words = df.select(
        F.col("doc_id"),
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    )
    tf = cache(
        words.groupBy("__w", "doc_id").agg(F.count(F.lit(1)).alias("__tf")),
        CORPUS_CACHE,
    )
    stats = (
        tf.groupBy("__w")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("__tf").cast("long").alias("total_tf"),
        )
        .filter(F.col("df") >= min_df)
    )
    w_rank = Window.partitionBy("__w").orderBy(
        F.col("__tf").desc(), F.col("doc_id").cast("long").asc()
    )
    ranked = (
        tf.select(
            F.col("__w"),
            F.col("doc_id").cast("long").alias("__doc"),
            F.col("__tf").cast("long").alias("__tf"),
            F.row_number().over(w_rank).cast("long").alias("__rn"),
        )
        .filter(F.col("__rn") <= postings_per_term)
        .join(stats, "__w")
    )
    return ranked.groupBy("__w").agg(
        F.first("df").alias("df"),
        F.first("total_tf").alias("total_tf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("__rn").alias("rn"),
                            F.concat_ws(
                                ":", F.col("__doc"), F.col("__tf")
                            ).alias("p"),
                        )
                    )
                ),
                lambda s: s["p"],
            ),
            ",",
        ).alias("postings"),
    ).select(
        F.col("__w").alias("term"),
        F.col("df").cast("long").alias("df"),
        F.col("total_tf"),
        F.col("postings"),
    )


def quality_calibrated(df: DataFrame) -> DataFrame:
    """Within-domain quality percentile (integer ppm): each document's
    quality score re-expressed as its exact rank position inside its
    own domain — (rank-1)·1e6 DIV (n-1), ties sharing the min rank.

    THE cross-domain calibration step before any global quality
    threshold: raw quality scores are not comparable across sources
    (boilerplate-heavy domains compress the scale), so curation cuts
    at "bottom 20% of each source", not "score < 0.6 globally".

    Scale (round-10 Zipf-head audit): the naive form — rank() + count()
    windows over the raw rows partitioned by domain — puts a head
    domain's ENTIRE document set through one window task (and rank
    needs every row, so no group limit applies). quality_score is
    rounded to 4 dp (≤ 10,001 distinct values), so the distinct-value
    collapse of q_drift_ks applies exactly: per-(domain, score) counts
    via a map-side-combined aggregate (partial aggregation absorbs the
    head domain), the rank recurrence over the COLLAPSED table — whose
    per-domain partitions are bounded by the score cardinality, not
    the corpus — and one linear join back on (domain, score) whose
    probe-side skew AQE splits. rank(ties share min rank) =
    1 + Σ counts of strictly smaller scores, exactly.
    """
    raw = df.select(
        F.col("doc_id"),
        F.col("source"),
        token_count_expr().alias("__n_tokens"),
        mean_word_length_expr().alias("__mwl"),
        punct_ratio_expr().alias("__punct"),
    )
    scored = raw.select(
        "doc_id",
        "source",
        quality_score_expr(
            n_tokens=F.col("__n_tokens"),
            mwl=F.col("__mwl"),
            punct=F.col("__punct"),
        ).alias("quality_score"),
    )
    grp = scored.groupBy("source", "quality_score").agg(
        F.count(F.lit(1)).alias("__c")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("quality_score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_dom = Window.partitionBy("source")
    ranks = grp.select(
        "source",
        "quality_score",
        (F.coalesce(F.sum("__c").over(w_cum), F.lit(0)) + 1).alias("__r"),
        F.sum("__c").over(w_dom).alias("__n"),
    )
    # integer DIV, not float division + floor: a correctly-rounded
    # double quotient can land ON an integer the exact quotient sits
    # just below, and the oracle's // is exact
    return scored.join(ranks, ["source", "quality_score"]).select(
        "doc_id",
        "source",
        "quality_score",
        F.expr("(__r - 1) * 1000000 DIV greatest(__n - 1, 1)")
        .cast("bigint")
        .alias("pct_ppm"),
    )


def dsir_logratio(df: DataFrame, is_target: Column) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more likely its tokens are under a TARGET-domain
    unigram model than under the raw-corpus model,
    ``avg_w[ln p_target(w) - ln p_raw(w)]`` with add-1 smoothing over the
    raw vocabulary. High scores mark raw docs that look like the target
    domain — the selection signal for importance resampling.

    ``is_target`` is a boolean Column over ``df``'s rows defining the
    target exemplar set (e.g. ``F.col("source") == "src0"``); the raw
    model is the whole corpus, so the target set needs no separate scan.

    Scale: ONE pass over the exploded tokens builds both models —
    conditional partial aggregation (count + count-if) on the token key,
    so the vocabulary-sized model frame is the only shuffle output; docs
    then join the model on the token (vocab << corpus, AQE broadcasts)
    and reduce per doc. No Python, no driver-side model.
    """
    words = df.select(
        "doc_id",
        is_target.alias("__tgt"),
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    )
    counts = words.groupBy("__w").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.count_if("__tgt").alias("__ct"),
    )
    totals = counts.agg(
        F.sum("__cr").alias("__tr"),
        F.sum("__ct").alias("__tt"),
        F.count(F.lit(1)).alias("__v"),
    )
    model = counts.crossJoin(F.broadcast(totals)).select(
        "__w",
        (
            F.log((F.col("__ct") + 1) / (F.col("__tt") + F.col("__v")))
            - F.log((F.col("__cr") + 1) / (F.col("__tr") + F.col("__v")))
        ).alias("__lr"),
    )
    return (
        words.join(model, "__w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.round(F.avg("__lr"), 4) + 0.0).alias("dsir_logratio"),
        )
    )


def source_divergence(df: DataFrame) -> DataFrame:
    """KL(p_group || p_corpus) in nats per group over add-1 smoothed
    unigram models (smoothing over the CORPUS vocabulary, so every
    group's distribution is supported wherever the corpus's is and the
    divergence is finite).

    Unseen-word handling: a group's smoothed p assigns 1/(ts+V) to each
    vocab word it never uses; those terms are generated from the
    vocab×group grid anti-joined against the seen set — vocabulary-
    sized work, not corpus-sized.
    """
    words = df.select(
        F.col("source").alias("__g"),
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("__w"),
    )
    vocab = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__cc"))
    vstats = vocab.agg(
        F.sum("__cc").alias("__tc"), F.count(F.lit(1)).alias("__v")
    )
    src = words.groupBy("__g", "__w").agg(F.count(F.lit(1)).alias("__cs"))
    stot = src.groupBy("__g").agg(F.sum("__cs").alias("__ts"))

    seen = (
        src.join(vocab, "__w")
        .join(F.broadcast(stot), "__g")
        .crossJoin(F.broadcast(vstats))
        .groupBy("__g")
        .agg(
            F.sum(
                ((F.col("__cs") + 1.0) / (F.col("__ts") + F.col("__v")))
                * (
                    F.log(
                        (F.col("__cs") + 1.0)
                        / (F.col("__ts") + F.col("__v"))
                    )
                    - F.log(
                        (F.col("__cc") + 1.0)
                        / (F.col("__tc") + F.col("__v"))
                    )
                )
            ).alias("__kl_seen"),
            F.count(F.lit(1)).alias("n_seen_words"),
        )
    )
    unseen = (
        df.select(F.col("source").alias("__g"))
        .distinct()
        .crossJoin(vocab)
        .join(src.select("__g", "__w"), ["__g", "__w"], "left_anti")
        .join(F.broadcast(stot), "__g")
        .crossJoin(F.broadcast(vstats))
        .groupBy("__g")
        .agg(
            F.sum(
                (F.lit(1.0) / (F.col("__ts") + F.col("__v")))
                * (
                    F.log(F.lit(1.0) / (F.col("__ts") + F.col("__v")))
                    - F.log(
                        (F.col("__cc") + 1.0)
                        / (F.col("__tc") + F.col("__v"))
                    )
                )
            ).alias("__kl_unseen")
        )
    )
    return (
        seen.join(unseen, "__g", "left")
        .select(
            F.col("__g").alias("source"),
            F.col("n_seen_words").cast("bigint").alias("n_seen_words"),
            F.round(
                F.col("__kl_seen") + F.coalesce("__kl_unseen", F.lit(0.0)), 4
            ).alias("kl_nats"),
        )
    )


def span_corruption(df: DataFrame) -> DataFrame:
    """T5-style span-corruption example generation (Raffel et al. 2020
    §3.1.4): mask one 2-word span per full 8-word window, replacing it
    with an ordinal sentinel in the input and emitting
    ``<sentinel> masked words`` pairs as the target — the
    (input_text, target_text) pretraining pairs of encoder-decoder LMs,
    derived deterministically so the corpus→examples step is
    reproducible run-to-run and engine-to-engine.

    Span placement inside window ``i`` is ``md5(id:i) % 7`` (the 7
    offsets of a 2-word span in an 8-word window) — corpus-stable (a
    document's examples don't change when its neighbors do), and
    integer-exact for the SQL oracle.

    Scale: pure per-row array algebra — word split, per-window hash
    offsets, one masked-token rewrite, two joins back to strings — all
    inside whole-stage codegen, zero shuffles, zero Python; streams
    with the scan like the quality/lang exprs above.
    """
    n_offsets = 7
    w = df.select(
        F.col("doc_id"), words_expr().alias("__words")
    ).withColumn("__nseg", F.size("__words") / 8)
    w = w.withColumn("__nseg", F.floor("__nseg").cast("int"))
    # per-window span starts, materialized once (input AND target read it)
    starts = F.when(
        F.col("__nseg") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("__nseg") - 1),
            lambda i: (
                i * 8
                + F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit("sc"),
                                F.col("doc_id").cast("string"),
                                i.cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % n_offsets
            ).cast("int"),
        ),
    ).otherwise(F.array().cast("array<int>"))
    w = w.withColumn("__starts", starts)

    def _tok(p):
        seg = (p / 8).cast("int")
        start = F.element_at("__starts", seg + 1)
        in_window = seg < F.col("__nseg")
        return (
            F.when(
                in_window & (p == start),
                F.concat(F.lit("<extra_id_"), seg.cast("string"), F.lit(">")),
            )
            .when(in_window & (p > start) & (p < start + 2), F.lit(None))
            .otherwise(F.element_at("__words", p.cast("int") + 1))
        )

    toks = F.transform(
        F.sequence(F.lit(0), F.size("__words") - 1), _tok
    )
    target_parts = F.transform(
        F.sequence(F.lit(0), F.col("__nseg") - 1),
        lambda i: F.concat(
            F.lit("<extra_id_"),
            i.cast("string"),
            F.lit("> "),
            F.array_join(
                F.slice(
                    F.col("__words"), F.element_at("__starts", i + 1) + 1, 2
                ),
                " ",
            ),
        ),
    )
    return w.filter(F.size("__words") > 0).select(
        F.col("doc_id"),
        F.col("__nseg").alias("n_spans"),
        F.array_join(F.filter(toks, lambda t: t.isNotNull()), " ").alias(
            "input_text"
        ),
        # nseg = 0 (a doc too short for any 8-word window) has NO
        # target — NULL, not '': DuckDB's array_to_string over the
        # empty span list yields NULL while Spark's array_join yields
        # '', and the degenerate-text star caught the '' papering over
        # that divergence (every real corpus doc has >= 8 words, so
        # populated outputs are untouched)
        F.when(F.col("__nseg") > 0, F.array_join(target_parts, " "))
        .otherwise(F.lit(None).cast("string"))
        .alias("target_text"),
    )


# Chunk cap for the tf-idf term self-join: a surviving term shared by f
# docs owes f² dot-product rows (exact cosine semantics); the chunk
# guard bounds any ONE task at ~cap² of them (see operators/skew.py).
TFIDF_TERM_BUCKET_CAP = 256


def tfidf_cosine_pairs(df: DataFrame, threshold: float) -> DataFrame:
    """All document pairs with TF-IDF cosine ≥ threshold — LEXICAL
    near-dup detection in the sparse vector space, the middle ground
    between shingle Jaccard (set overlap, order-blind) and embedding
    cosine (dense, model-dependent): shared rare terms weigh more than
    shared common ones.

    Determinism: idf = ln(N/df) flows as a double but the cosine is
    rounded to 6 dp BEFORE thresholding (the bm25_topk discipline), so
    the pair set is engine-reproducible.

    Scale: pairs form ONLY through the inverted-index self-join on the
    term — cost Σ_t df(t)², never |corpus|². Terms with df > N/2
    are dropped from the index first: stopword-grade terms contribute
    near-zero weight but quadratic join fan-out, so the cut removes the
    skew hazard AND the wasted work (documented ranking-safe: their
    idf ≈ 0 by construction). Norms are one per-doc aggregate; the
    pair dot-products shuffle on (id_a, id_b) with map-side combine.
    """
    words = df.select(
        F.col("doc_id"),
        F.explode(
            F.transform(words_expr(), lambda w: F.lower(w))
        ).alias("term"),
    )
    tf = words.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("__tf"))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__df"))
    weighted = (
        tf.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") <= F.col("__n") * 0.5)
        .select(
            "doc_id",
            "term",
            (F.col("__tf") * F.log(F.col("__n") / F.col("__df"))).alias("__w"),
        )
    )
    # three consumers (norms + both join sides): persist the index once
    # instead of re-deriving the corpus scan per branch
    weighted = cache(weighted, CORPUS_CACHE)
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("__w") * F.col("__w"))).alias("__norm")
    )
    # chunked term self-join (round-10 Zipf-head audit): the df cut
    # above bounds per-term fan-out RELATIVE to the corpus, but a term
    # just under the cut still owes ~(ratio·N)² dot-product rows — the
    # chunk guard bounds any one task at ~cap² of them, output
    # unchanged (each pair meets exactly once per shared term)
    from .skew import chunked_self_pairs

    dots = (
        chunked_self_pairs(
            weighted,
            ["term"],
            "doc_id",
            TFIDF_TERM_BUCKET_CAP,
            payload={"__w": ("__wa", "__wb")},
        )
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("__norm").alias("__na"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("__norm").alias("__nb"))
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
    )


SKIPGRAM_WINDOW = 2  # context radius of skipgram_pairs (positions)


def skipgram_pairs(df: DataFrame) -> DataFrame:
    """Skip-gram co-occurrence mining: (center, context, n_pairs) for
    every ordered word pair within ±``SKIPGRAM_WINDOW`` positions — the
    positive-pair extraction of word2vec-style embedding training.

    Scale: pair generation is per-row array algebra (flatten of a
    transform over positions — no explode-then-self-join, no shuffle
    until the count); the single shuffle is the (center, context)
    groupBy with map-side combine, bounded by distinct pair vocabulary.
    """
    # Distribute the pair generation (r11 opt): the per-row window
    # algebra below is interpreted higher-order-function work (~0.7 ms
    # per document), and a small corpus scans as ONE task (profiled:
    # a 1.4 s single-task stage at sf0.1).
    df = ensure_scan_parallelism(df, "doc_id")
    w = df.select(F.col("doc_id"), words_expr().alias("__words"))
    pairs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("__words") - 1),
            lambda i: F.filter(
                F.transform(
                    F.sequence(
                        F.greatest(i - SKIPGRAM_WINDOW, F.lit(0)),
                        F.least(i + SKIPGRAM_WINDOW, F.size("__words") - 1),
                    ),
                    lambda j: F.when(
                        j != i,
                        F.struct(
                            F.lower(F.element_at("__words", i.cast("int") + 1)).alias(
                                "center"
                            ),
                            F.lower(F.element_at("__words", j.cast("int") + 1)).alias(
                                "context"
                            ),
                        ),
                    ),
                ),
                lambda p: p.isNotNull(),
            ),
        )
    )
    return (
        w.filter(F.size("__words") > 1)
        .select(F.explode(pairs).alias("p"))
        .select("p.center", "p.context")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def skipgram_with_negatives(
    df: DataFrame,
    top_k: int,
    n_negatives: int = 2,
) -> DataFrame:
    """The ``top_k`` most frequent skip-gram pairs (window 2), each with
    ``n_negatives`` DETERMINISTIC negative samples drawn from the
    frequency-ranked vocabulary by md5(center:context:j) — reproducible
    negative sampling (a dataset card can state exactly which negatives
    trained the model; a rerun or another engine draws the same).

    Scale: vocabulary ranking is one word-keyed count + a rank window
    over |vocab| rows; the negative lookup is an equi-join of k·top_k
    probe rows against the vocab index — broadcast-sized both sides
    after the top-k cut (TakeOrderedAndProject, no global sort).
    """
    pairs = skipgram_pairs(df)
    top = pairs.orderBy(
        F.desc("n_pairs"), F.col("center"), F.col("context")
    ).limit(top_k)
    words = df.select(
        F.explode(
            F.transform(words_expr(), lambda x: F.lower(x))
        ).alias("word")
    )
    vocab = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            "word",
            (
                F.row_number().over(
                    Window.orderBy(F.desc("__n"), F.col("word"))
                )
                - 1
            ).alias("__idx"),
        )
    )
    vsize = vocab.agg(F.count(F.lit(1)).alias("__v"))
    probes = (
        top.crossJoin(F.broadcast(vsize))
        .select(
            "center",
            "context",
            "n_pairs",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.lit(n_negatives)),
                    lambda j: F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    ":", F.col("center"), F.col("context"),
                                    j.cast("string"),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % F.col("__v"),
                )
            ).alias("__j", "__idx"),
        )
    )
    return (
        probes.join(F.broadcast(vocab), "__idx")
        .groupBy("center", "context", "n_pairs")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__j"), F.col("word")))
                    ),
                    lambda x: x["word"],
                ),
                "|",
            ).alias("negatives")
        )
    )


def pmi_collocations(
    df: DataFrame,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` adjacent-word collocations by pointwise mutual
    information — the classic "new york"/"machine learning" detector:
    PMI = ln(p(w1,w2) / (p(w1)·p(w2))) under the corpus's own bigram
    model (positional counts: p(w1) from bigram heads, p(w2) from
    tails, so the three distributions share one normalizer B = total
    bigrams and the measure is self-consistent). A ``min_count`` floor
    drops the rare-pair artifacts PMI is notorious for (a hapax pair
    scores arbitrarily high).

    Determinism: counts are exact BIGINTs; the only float is one
    ln((c12·B)/(c1·c2)) per surviving pair — a single correctly-rounded
    op over exact integers, identical across engines; ordering uses the
    rounded value with the word pair as total tie-break.

    Scale: the same map-side bigram algebra as bigram_logprob (no
    window, no per-doc sort), three count aggregates with map-side
    combine, the 1-row total broadcast. The candidate table after the
    ``min_count`` cut is vocabulary-, not corpus-, sized; top-k is
    TakeOrderedAndProject (per-partition heads, no global sort). The
    c12·B product stays in BIGINT range while bigram counts are below
    ~3·10⁹ of each other's product — beyond that, rewrite as a sum of
    logs (same value, overflow-free).
    """
    w = df.select(F.col("doc_id"), words_expr().alias("__ws"))
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("__ws") - 1),
        lambda i: F.struct(
            F.lower(F.element_at("__ws", i)).alias("w1"),
            F.lower(F.element_at("__ws", i + 1)).alias("w2"),
        ),
    )
    bigrams = (
        w.filter(F.size("__ws") >= 2)
        .select(F.explode(pairs).alias("__p"))
        .select(F.col("__p.w1").alias("w1"), F.col("__p.w2").alias("w2"))
    )
    c12 = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_count)
    )
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("__c1"))
    c2 = bigrams.groupBy("w2").agg(F.count(F.lit(1)).alias("__c2"))
    tot = bigrams.agg(F.count(F.lit(1)).alias("__b"))
    scored = (
        c12.join(c1, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            F.col("pair_count").cast("bigint").alias("pair_count"),
            (
                F.round(
                    F.log(
                        (F.col("pair_count") * F.col("__b") * F.lit(1.0))
                        / (F.col("__c1") * F.col("__c2"))
                    ),
                    6,
                )
                + 0.0
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), F.col("w1"), F.col("w2")
    ).limit(k)
