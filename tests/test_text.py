"""Text operator unit tests — expression-level truth tables."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.text import (
    bpe_token_count_expr,
    fingerprint_expr,
    lang_id_expr,
    mean_word_length_expr,
    normalized_text,
    punct_ratio_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
)


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(expr.alias("v")).collect()[0]["v"]


def test_token_count(spark):
    assert _one(spark, "one two  three", token_count_expr()) == 3
    assert _one(spark, "  padded  ", token_count_expr()) == 1


def test_bpe_token_count(spark):
    # 'abc', '123', ',', 'def' -> 4
    assert _one(spark, "abc123, def", bpe_token_count_expr()) == 4


def test_mean_word_length(spark):
    assert _one(spark, "ab abcd", mean_word_length_expr()) == 3.0


def test_punct_ratio(spark):
    # "a,b!" -> 2 punct of 4 chars
    assert _one(spark, "a,b!", punct_ratio_expr()) == 0.5


def test_stopword_ratio(spark):
    assert _one(spark, "the cat sat", stopword_ratio_expr()) == 1 / 3
    assert _one(spark, "cat sat mat", stopword_ratio_expr()) == 0.0


def test_lang_id(spark):
    english = "the cat sat on the mat and it is a cat"
    assert _one(spark, english, lang_id_expr()) == "en"
    assert _one(spark, "gato perro casa", lang_id_expr()) == "unknown"


def test_quality_score_bounds_and_known_value(spark):
    # 3 tokens, mwl=3, no punct: len_ok=3/20, word_ok=1, punct_ok=1
    expected = round((3 / 20 + 1.0 + 1.0) / 3, 4)
    assert _one(spark, "cat sat mat", quality_score_expr()) == expected
    long_clean = " ".join(["word"] * 30)
    assert _one(spark, long_clean, quality_score_expr()) == 1.0


def test_normalized_text_and_fingerprint(spark):
    assert _one(spark, "  A   B\tC ", normalized_text()) == "a b c"
    got = _one(spark, "Hello   World", fingerprint_expr())
    assert got == hashlib.md5(b"hello world").hexdigest()


def test_fingerprint_distinguishes(spark):
    a = _one(spark, "text one", fingerprint_expr())
    b = _one(spark, "text two", fingerprint_expr())
    assert a != b


def test_pii_redaction_and_counts(spark):
    from aircraftutilization_etl_spark.operators.text import (
        pii_count_expr,
        redact_pii_expr,
    )

    text = (
        "Mail a.b+c@ex.co or admin@sub.domain.org, call +44 20-7946 0958,"
        " host 192.168.0.1 done"
    )
    df = spark.createDataFrame([(text,)], "text string")
    row = df.select(
        redact_pii_expr("text").alias("red"),
        pii_count_expr("text", "email").alias("ne"),
        pii_count_expr("text", "phone").alias("np"),
        pii_count_expr("text", "ipv4").alias("ni"),
    ).collect()[0]
    assert row["ne"] == 2 and row["np"] == 1 and row["ni"] == 1
    assert row["red"] == (
        "Mail <EMAIL> or <EMAIL>, call <PHONE>, host <IPV4> done"
    )


def test_pii_redaction_order_email_wins_over_ipv4(spark):
    """An address like 10.0.0.7@host.net is one email, and the ipv4
    pattern must not bite into the local part before email redaction."""
    from aircraftutilization_etl_spark.operators.text import redact_pii_expr

    df = spark.createDataFrame([("ping 10.0.0.7@host.net ok",)], "text string")
    assert (
        df.select(redact_pii_expr("text").alias("r")).collect()[0]["r"]
        == "ping <EMAIL> ok"
    )


def test_pii_clean_text_untouched(spark):
    from aircraftutilization_etl_spark.operators.text import redact_pii_expr

    clean = "no pii here, just words and the number 42."
    df = spark.createDataFrame([(clean,)], "text string")
    assert df.select(redact_pii_expr("text").alias("r")).collect()[0]["r"] == clean


def test_ngram_repetition_known_values(spark):
    from aircraftutilization_etl_spark.operators.text import (
        ngram_repetition_expr,
    )

    df = spark.createDataFrame(
        [
            (1, "a b"),                              # shorter than n -> 0
            (2, "x y z w v x y z w v x y z w v"),    # cyclic: 5 of 11 distinct
            (3, "one two three four five"),          # exactly one gram
            (4, ""),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["rep"]
        for r in df.select(
            "doc_id", ngram_repetition_expr().alias("rep")
        ).collect()
    }
    assert got == {1: 0.0, 2: round(1 - 5 / 11, 4), 3: 0.0, 4: 0.0}


def test_unigram_logprob_matches_hand_model(spark):
    import math

    from aircraftutilization_etl_spark.operators.text import unigram_logprob

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a a b"), (3, "c")],
        "doc_id long, text string",
    )
    # corpus: a=3, b=2, c=1, total=6
    got = {
        r["doc_id"]: (r["n_tokens"], r["logprob"])
        for r in unigram_logprob(df).collect()
    }
    lp = lambda *ps: round(sum(math.log(p) for p in ps) / len(ps), 4)
    assert got == {
        1: (2, lp(3 / 6, 2 / 6)),
        2: (3, lp(3 / 6, 3 / 6, 2 / 6)),
        3: (1, lp(1 / 6)),
    }


class TestBoilerplate:
    def _corpus(self, spark):
        boiler = "all rights reserved worldwide"  # 4 words -> 2 shingles
        rows = [
            (1, f"{boiler} alpha beta gamma"),
            (2, f"{boiler} delta epsilon zeta"),
            (3, f"{boiler} eta theta iota"),
            (4, f"kappa lambda mu nu xi"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_repeated_ngrams_counts_distinct_docs(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            repeated_ngrams,
        )

        out = repeated_ngrams(self._corpus(spark), min_docs=3, k=10)
        got = {r["shingle"]: r["n_docs"] for r in out.collect()}
        assert got == {
            "all rights reserved": 3,
            "rights reserved worldwide": 3,
        }

    def test_repeated_ngrams_within_doc_repeats_count_once(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            repeated_ngrams,
        )

        df = spark.createDataFrame(
            [(1, "x y z x y z x y z"), (2, "x y z")],
            "doc_id long, text string",
        )
        out = repeated_ngrams(df, min_docs=2, k=10)
        got = {r["shingle"]: r["n_docs"] for r in out.collect()}
        # 'x y z' appears 3x in doc 1 but counts once per doc
        assert got["x y z"] == 2

    def test_boilerplate_scores(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            boilerplate_scores,
        )

        out = boilerplate_scores(self._corpus(spark), min_docs=3)
        got = {
            r["doc_id"]: (r["n_shingles"], r["n_common"], r["boilerplate_ppm"])
            for r in out.collect()
        }
        # each boiler doc: 7 words -> 5 shingles, 2 of them common
        assert got[1] == (5, 2, 2 * 1_000_000 // 5)
        assert got[2] == (5, 2, 2 * 1_000_000 // 5)
        assert got[3] == (5, 2, 2 * 1_000_000 // 5)
        # clean doc: 0 common
        assert got[4] == (3, 0, 0)

    def test_topk_cut_deterministic(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            repeated_ngrams,
        )

        df = self._corpus(spark)
        a = [tuple(r) for r in repeated_ngrams(df, 2, 1).collect()]
        b = [
            tuple(r)
            for r in repeated_ngrams(df.repartition(7), 2, 1).collect()
        ]
        assert a == b


class TestBM25:
    def test_matches_hand_computation(self, spark):
        import math

        from aircraftutilization_etl_spark.operators.text import bm25_topk

        docs = spark.createDataFrame(
            [
                (1, "cat dog cat"),
                (2, "dog mouse"),
                (3, "bird bird bird"),
            ],
            "doc_id long, text string",
        )
        qt = spark.createDataFrame(
            [("q0", "cat"), ("q0", "dog")], "query_id string, term string"
        )
        out = {
            (r["query_id"], r["doc_id"]): (r["rank"], r["score"])
            for r in bm25_topk(docs, qt, k=10).collect()
        }

        def idf(n, df):
            return math.log(1 + (n - df + 0.5) / (df + 0.5))

        def tfn(tf, dl, avgdl, k1=1.2, b=0.75):
            return tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

        n, avgdl = 3, (3 + 2 + 3) / 3
        exp1 = round(
            idf(n, 1) * tfn(2, 3, avgdl) + idf(n, 2) * tfn(1, 3, avgdl), 6
        )
        exp2 = round(idf(n, 2) * tfn(1, 2, avgdl), 6)
        assert out[("q0", 1)] == (1, exp1)
        assert out[("q0", 2)] == (2, exp2)
        assert ("q0", 3) not in out  # no query term -> never scored

    def test_rank_cut_and_tiebreak(self, spark):
        from aircraftutilization_etl_spark.operators.text import bm25_topk

        # four identical docs: equal scores, rank by doc_id, k=2 cuts
        docs = spark.createDataFrame(
            [(i, "same words here") for i in (4, 2, 9, 7)],
            "doc_id long, text string",
        )
        qt = spark.createDataFrame(
            [("q0", "same")], "query_id string, term string"
        )
        got = [
            (r["doc_id"], r["rank"])
            for r in bm25_topk(docs, qt, k=2)
            .orderBy("rank")
            .collect()
        ]
        assert got == [(2, 1), (4, 2)]


def test_bigram_logprob_matches_hand_model(spark):
    import math

    from aircraftutilization_etl_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a b"), (3, "solo")],
        "doc_id long, text string",
    )
    # bigrams: d1: (a,b),(b,a); d2: (a,b). heads: a->2? a heads: d1 pos1,
    # d2 pos1 => c1(a)=2... plus d1 'b a' head b=1. c12: (a,b)=2, (b,a)=1
    got = {
        r["doc_id"]: (r["n_bigrams"], r["logprob"])
        for r in bigram_logprob(df).collect()
    }
    lp = lambda *ps: round(sum(math.log(p) for p in ps) / len(ps), 4)
    assert got == {
        1: (2, lp(2 / 2, 1 / 1)),
        2: (1, lp(2 / 2)),
        # doc 3: single word, no transitions -> absent
    }
    assert 3 not in got


def test_bpe_merges_hand_worked(spark):
    from aircraftutilization_etl_spark.operators.text import bpe_merges

    # vocab: 'aaab' x2, 'ab' x1
    df = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_merges(df, 3).orderBy("rank").collect()]
    # r1: (a,a) count 4 (2 per 'aaab', weight 2... left-to-right pairs);
    #     'a|a|a|b|' merges to 'aa|a|b|' (non-overlapping)
    # r2: (a,b) count 3 beats (aa,a) count 2
    # r3: (aa,ab) count 2
    assert got == [
        (1, "a", "a", "aa", 4),
        (2, "a", "b", "ab", 3),
        (3, "aa", "ab", "aaab", 2),
    ]


def test_bpe_merges_filters_non_alnum_tokens(spark):
    from aircraftutilization_etl_spark.operators.text import bpe_merges

    df = spark.createDataFrame(
        [(1, "xy xy a|b a|b a|b")], "doc_id long, text string"
    )
    got = [tuple(r) for r in bpe_merges(df, 1).collect()]
    # 'a|b' tokens are outside the pre-tokenizer alphabet -> only 'xy'
    assert got == [(1, "x", "y", "xy", 2)]


class TestScriptProfile:
    def test_counts_and_dominant(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            dominant_script_expr,
            script_profile_exprs,
        )

        df = spark.createDataFrame(
            [
                (1, "hello world 42"),
                (2, "汉字汉字ab"),   # 4 CJK + 2 latin
                (3, "привет"),  # cyrillic
                (4, "...!!!"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (
                r["n_latin"], r["n_digit"], r["n_cjk"],
                r["n_cyrillic"], r["dominant_script"],
            )
            for r in df.select(
                "doc_id", *script_profile_exprs(), dominant_script_expr()
            ).collect()
        }
        assert out[1] == (10, 2, 0, 0, "latin")
        assert out[2] == (2, 0, 4, 0, "cjk")
        assert out[3] == (0, 0, 0, 6, "cyrillic")
        assert out[4] == (0, 0, 0, 0, "other")

    def test_tie_breaks_by_class_order(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            dominant_script_expr,
        )

        df = spark.createDataFrame([(1, "ab汉字")], "doc_id long, text string")
        got = df.select(dominant_script_expr()).first()[0]
        assert got == "latin"  # 2 latin == 2 cjk -> earlier class wins


class TestInvertedIndex:
    def test_postings_impact_ordered_and_truncated(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            inverted_index,
        )

        df = spark.createDataFrame(
            [
                (1, "x x x y"),
                (2, "x y"),
                (3, "x x y"),
            ],
            "doc_id long, text string",
        )
        out = {r["term"]: r for r in inverted_index(df, 1, 2).collect()}
        x = out["x"]
        assert (x["df"], x["total_tf"]) == (3, 6)
        # tf desc, doc asc; truncated to 2; scalar comma-joined string
        assert x["postings"] == "1:3,3:2"
        y = out["y"]
        assert y["postings"] == "1:1,2:1"

    def test_min_df_prunes(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            inverted_index,
        )

        df = spark.createDataFrame(
            [(1, "common rare"), (2, "common")], "doc_id long, text string"
        )
        terms = {r["term"] for r in inverted_index(df, 2, 5).collect()}
        assert terms == {"common"}


def test_quality_calibrated_percentiles(spark):
    from aircraftutilization_etl_spark.operators.text import (
        quality_calibrated,
    )

    # source A: 3 docs with strictly increasing quality (longer = better
    # up to 20 tokens); source B: 2 identical docs (rank tie -> same ppm)
    df = spark.createDataFrame(
        [
            (1, "A", "one two three"),
            (2, "A", "one two three four five six seven eight"),
            (3, "A", " ".join(["tok"] * 25)),
            (4, "B", "same text here now"),
            (5, "B", "same text here now"),
        ],
        "doc_id long, source string, text string",
    )
    out = {r["doc_id"]: r["pct_ppm"] for r in quality_calibrated(df).collect()}
    assert out[1] == 0
    assert out[2] == 500_000
    assert out[3] == 1_000_000
    assert out[4] == out[5] == 0  # tied min rank


class TestGopherRules:
    def _metrics(self, spark, text):
        from aircraftutilization_etl_spark.operators.text import (
            gopher_flags,
            gopher_metrics,
        )

        df = spark.createDataFrame([(text,)], "text string")
        m = gopher_metrics()
        f = gopher_flags(m)
        row = df.select(
            *[v.alias(k) for k, v in m.items()],
            *[v.alias(k) for k, v in f.items()],
        ).collect()[0]
        return row.asDict()

    def test_repetition_flag(self, spark):
        # 'spam' holds 5/8 of the tokens -> share 0.625 > 0.125 -> fail
        r = self._metrics(spark, "spam spam spam spam spam one two three")
        assert r["top_word_share"] == 5 / 8
        assert not r["f_repetition"]

    def test_top_share_case_insensitive(self, spark):
        r = self._metrics(spark, "The the THE one")
        assert r["top_word_share"] == 3 / 4

    def test_stopword_floor_counts_distinct(self, spark):
        # 'the' repeated is ONE distinct stopword -> fails the >=2 floor
        r = self._metrics(spark, "the the the the word")
        assert r["n_distinct_stopwords"] == 1
        assert not r["f_stopwords"]
        r2 = self._metrics(spark, "the quick fox of glory")
        assert r2["n_distinct_stopwords"] == 2
        assert r2["f_stopwords"]

    def test_alpha_ratio(self, spark):
        # 2 of 4 tokens contain a letter
        r = self._metrics(spark, "abc 123 456 d7")
        assert r["alpha_word_ratio"] == 0.5
        assert not r["f_alpha_words"]

    def test_word_count_bounds(self, spark):
        r = self._metrics(spark, " ".join(["w"] * 29))
        assert not r["f_word_count"]
        r2 = self._metrics(spark, " ".join(f"w{i}" for i in range(30)))
        assert r2["f_word_count"]


def test_dsir_logratio_hand_model(spark):
    import math

    from aircraftutilization_etl_spark.operators.text import dsir_logratio

    df = spark.createDataFrame(
        [(1, "a a b", "tgt"), (2, "b c", "raw")],
        "doc_id int, text string, source string",
    )
    out = {
        r["doc_id"]: r
        for r in dsir_logratio(df, F.col("source") == "tgt").collect()
    }
    # counts: a cr=2 ct=2 | b cr=2 ct=1 | c cr=1 ct=0; tr=5 tt=3 v=3
    lr = {
        "a": math.log(3 / 6) - math.log(3 / 8),
        "b": math.log(2 / 6) - math.log(3 / 8),
        "c": math.log(1 / 6) - math.log(2 / 8),
    }
    assert out[1]["n_tokens"] == 3
    assert out[1]["dsir_logratio"] == round((2 * lr["a"] + lr["b"]) / 3, 4)
    assert out[2]["dsir_logratio"] == round((lr["b"] + lr["c"]) / 2, 4)
    # target doc looks more like the target domain than the raw doc
    assert out[1]["dsir_logratio"] > out[2]["dsir_logratio"]


def test_bpe_encode_hand_worked(spark):
    from aircraftutilization_etl_spark.operators.text import bpe_encode

    df = spark.createDataFrame(
        [(1, "low low lower"), (2, "lowest low")],
        "doc_id int, text string",
    )
    # merges: (l,o) then (lo,w) -> low=1 tok, lower=low|e|r=3, lowest=4
    out = {r["doc_id"]: r for r in bpe_encode(df, 2).collect()}
    assert out[1]["n_words"] == 3
    assert out[1]["n_bpe_tokens"] == 5
    assert out[1]["n_chars"] == 11
    assert out[1]["compression"] == 2.2
    assert out[2]["n_bpe_tokens"] == 5
    assert out[2]["compression"] == 1.8


def test_source_divergence_hand_model(spark):
    import math

    from aircraftutilization_etl_spark.operators.text import source_divergence

    df = spark.createDataFrame(
        [(1, "a a b", "g1"), (2, "b", "g2")],
        "doc_id int, text string, source string",
    )
    out = {r["source"]: r for r in source_divergence(df).collect()}
    # corpus: a cc=2, b cc=2, tc=4, v=2 -> p_c(a)=p_c(b)=0.5
    kl1 = 0.6 * math.log(0.6 / 0.5) + 0.4 * math.log(0.4 / 0.5)
    kl2 = (2 / 3) * math.log((2 / 3) / 0.5) + (1 / 3) * math.log(
        (1 / 3) / 0.5
    )
    assert out["g1"]["n_seen_words"] == 2
    assert out["g2"]["n_seen_words"] == 1
    assert out["g1"]["kl_nats"] == round(kl1, 4)
    assert out["g2"]["kl_nats"] == round(kl2, 4)


class TestSpanCorruption:
    """T5 span-corruption pairs: mask structure, round-trip recovery,
    and plan purity (per-row codegen only)."""

    def _pairs(self, spark, texts):
        from aircraftutilization_etl_spark.operators.text import span_corruption

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        return {r.doc_id: r for r in span_corruption(df).collect()}

    def test_short_doc_passes_through_unmasked(self, spark):
        got = self._pairs(spark, ["a b c d e f g"])  # 7 words < segment
        assert got[0].n_spans == 0
        assert got[0].input_text == "a b c d e f g"
        # no spans -> no target: NULL, not '' (DuckDB's array_to_string
        # over the empty span list is NULL; the degenerate-text star
        # caught the old '' papering over the divergence)
        assert got[0].target_text is None

    def test_masks_one_span_per_full_window(self, spark):
        words = [f"w{i}" for i in range(20)]  # 2 full windows + tail
        got = self._pairs(spark, [" ".join(words)])
        r = got[0]
        assert r.n_spans == 2
        assert "<extra_id_0>" in r.input_text and "<extra_id_1>" in r.input_text
        # 2 sentinels replace 2x2 words: 20 - 4 + 2 tokens remain
        assert len(r.input_text.split()) == 18
        assert r.target_text.startswith("<extra_id_0> ")

    def test_round_trip_reconstructs_original(self, spark):
        import re

        words = [f"t{i}" for i in range(33)]
        got = self._pairs(spark, [" ".join(words)])
        r = got[0]
        # splice each target span back over its sentinel
        spans = {
            m.group(1): m.group(2).strip()
            for m in re.finditer(
                r"<extra_id_(\d+)>((?: (?!<extra_id_)\S+)+)", r.target_text
            )
        }
        rebuilt = re.sub(
            r"<extra_id_(\d+)>", lambda m: spans[m.group(1)], r.input_text
        )
        assert rebuilt == " ".join(words)

    def test_plan_is_pure_jvm_map(self, spark):
        from aircraftutilization_etl_spark.diagnostics import (
            python_nodes,
        )
        from tests.conftest import count_exchanges
        from aircraftutilization_etl_spark.operators.text import span_corruption

        df = spark.createDataFrame(
            [(1, "x " * 30)], "doc_id long, text string"
        )
        out = span_corruption(df)
        assert count_exchanges(out) == 0
        assert not any(python_nodes(out).values())


class TestTfidfCosinePairs:
    def test_identical_docs_score_one_disjoint_absent(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            tfidf_cosine_pairs,
        )

        df = spark.createDataFrame(
            [
                (1, "alpha beta gamma"),
                (2, "alpha beta gamma"),
                (3, "delta epsilon zeta"),
                (4, "unrelated words entirely"),
            ],
            "doc_id long, text string",
        )
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in tfidf_cosine_pairs(df, 0.5).collect()
        }
        assert got == {(1, 2): 1.0}

    def test_common_terms_are_dropped_from_index(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            tfidf_cosine_pairs,
        )

        # "the" appears in every doc (df = N > N/2): without the cut the
        # docs would pair through it; with it they share nothing
        df = spark.createDataFrame(
            [(1, "the cat"), (2, "the dog"), (3, "the bird"), (4, "the fish")],
            "doc_id long, text string",
        )
        assert tfidf_cosine_pairs(df, 0.01).count() == 0


class TestSkipgramPairs:
    def test_window_pairs_on_known_sentence(self, spark):
        from aircraftutilization_etl_spark.operators.text import skipgram_pairs

        df = spark.createDataFrame(
            [(1, "a b c d")], "doc_id long, text string"
        )
        got = {
            (r.center, r.context): r.n_pairs
            for r in skipgram_pairs(df).collect()
        }
        # every ordered pair at most 2 positions apart; a-d (3) is out
        assert got == {
            ("a", "b"): 1,
            ("a", "c"): 1,
            ("b", "a"): 1,
            ("b", "c"): 1,
            ("b", "d"): 1,
            ("c", "a"): 1,
            ("c", "b"): 1,
            ("c", "d"): 1,
            ("d", "b"): 1,
            ("d", "c"): 1,
        }

    def test_negatives_are_deterministic_vocab_draws(self, spark):
        import hashlib

        from aircraftutilization_etl_spark.operators.text import (
            skipgram_with_negatives,
        )

        df = spark.createDataFrame(
            [(1, "x y x y"), (2, "x y z w")], "doc_id long, text string"
        )
        rows = skipgram_with_negatives(df, top_k=3, n_negatives=2).collect()
        # vocab ranked by count desc then word: x,y tie at 3 -> x=0, y=1;
        # then w=2, z=3 (count 1, alpha order)
        vocab = ["x", "y", "w", "z"]
        for r in rows:
            expect = [
                vocab[
                    int(
                        hashlib.md5(
                            f"{r.center}:{r.context}:{j}".encode()
                        ).hexdigest()[:8],
                        16,
                    )
                    % 4
                ]
                for j in (1, 2)
            ]
            assert r.negatives.split("|") == expect


class TestPmiCollocations:
    def test_hand_computed_counts(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            pmi_collocations,
        )
        import math

        # "a b" x3, "a c" x2 -> bigrams: (a,b):3 (a,c):2; heads a:5;
        # tails b:3 c:2; B=5
        df = spark.createDataFrame(
            [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a c"), (5, "a c")],
            "doc_id long, text string",
        )
        rows = pmi_collocations(df, min_count=1, k=10).collect()
        got = {(r.w1, r.w2): (r.pair_count, r.pmi) for r in rows}
        assert got[("a", "b")] == (3, round(math.log(3 * 5 / (5 * 3)), 6))
        assert got[("a", "c")] == (2, round(math.log(2 * 5 / (5 * 2)), 6))

    def test_min_count_floor_drops_hapax(self, spark):
        from aircraftutilization_etl_spark.operators.text import (
            pmi_collocations,
        )

        df = spark.createDataFrame(
            [(1, "x y"), (2, "x y"), (3, "p q")],
            "doc_id long, text string",
        )
        rows = pmi_collocations(df, min_count=2, k=10).collect()
        assert {(r.w1, r.w2) for r in rows} == {("x", "y")}
