"""Dedup operator unit tests on hand-built corpora with known outcomes."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from aircraftutilization_etl_spark.operators.dedup import (
    MINHASH_K,
    doc_shingles,
    exact_duplicates,
    lsh_candidate_pairs,
    minhash_lsh_duplicates,
    minhash_signatures,
    shingle_jaccard_pairs,
    with_shingle_array,
    with_simhash,
)

DOCS = "doc_id long, text string"


def _docs(spark, rows):
    return spark.createDataFrame(rows, DOCS)


class TestShingles:
    def test_known_shingles(self, spark):
        df = _docs(spark, [(1, "a b c d")])
        rows = with_shingle_array(df).collect()
        assert sorted(rows[0]["shingles"]) == ["a b c", "b c d"]

    def test_short_docs_dropped(self, spark):
        df = _docs(spark, [(1, "one two"), (2, "one two three")])
        assert [r["doc_id"] for r in with_shingle_array(df).collect()] == [2]

    def test_shingles_distinct(self, spark):
        df = _docs(spark, [(1, "x y x y x y")])  # repeated 3-grams
        rows = doc_shingles(df).collect()
        shingles = [r["shingle"] for r in rows]
        assert len(shingles) == len(set(shingles)) == 2  # 'x y x', 'y x y'


class TestExactDuplicates:
    def test_groups_by_normalized_text(self, spark):
        df = _docs(
            spark,
            [(1, "Hello  World"), (2, "hello world"), (3, "different text")],
        )
        rows = {r["representative"]: r for r in exact_duplicates(df).collect()}
        assert rows[1]["n_docs"] == 2  # case/whitespace-insensitive group
        assert rows[3]["n_docs"] == 1
        expected = hashlib.md5(b"hello world").hexdigest()
        assert rows[1]["fingerprint"] == expected


class TestJaccard:
    def test_hand_computed_jaccard(self, spark):
        # doc1: shingles {a b c, b c d}; doc2: {a b c, b c e}
        # J = 1 / 3
        df = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
        pairs = shingle_jaccard_pairs(doc_shingles(df), threshold=0.3).collect()
        assert len(pairs) == 1
        p = pairs[0]
        assert (p["id_a"], p["id_b"]) == (1, 2)
        assert abs(p["jaccard"] - 1 / 3) < 1e-6

    def test_threshold_excludes(self, spark):
        df = _docs(spark, [(1, "a b c d"), (2, "a b c e")])
        assert shingle_jaccard_pairs(doc_shingles(df), threshold=0.5).count() == 0


class TestMinHashLSH:
    def test_signature_shape_and_determinism(self, spark):
        df = _docs(spark, [(1, "w1 w2 w3 w4"), (2, "w1 w2 w3 w4")])
        sig = minhash_signatures(with_shingle_array(df)).collect()
        assert len(sig) == 2 * MINHASH_K
        by_doc = {}
        for r in sig:
            by_doc.setdefault(r["doc_id"], {})[r["seed"]] = r["minhash"]
        assert by_doc[1] == by_doc[2]  # identical docs, identical signatures
        assert sorted(by_doc[1]) == list(range(MINHASH_K))

    def test_identical_docs_are_candidates(self, spark):
        df = _docs(
            spark,
            [(1, "p q r s t"), (2, "p q r s t"), (3, "entirely different words here")],
        )
        pairs = lsh_candidate_pairs(with_shingle_array(df)).collect()
        assert (1, 2) in {(p["id_a"], p["id_b"]) for p in pairs}

    def test_full_pipeline_finds_exact_dup(self, spark):
        df = _docs(
            spark,
            [(1, "p q r s t"), (2, "p q r s t"), (3, "a completely other doc")],
        )
        out = minhash_lsh_duplicates(df, threshold=0.9).collect()
        assert len(out) == 1
        assert (out[0]["id_a"], out[0]["id_b"], out[0]["jaccard"]) == (1, 2, 1.0)

    def test_adversarial_identical_corpus_bucket_cap(self, spark):
        """Skew resilience (VERDICT r4 #6): N identical docs put every
        signature in ONE (band, band_key) bucket — without the chunk
        guard that is one N² task. The guard must (a) keep the OUTPUT
        exactly complete (all N·(N-1)/2 pairs survive) and (b) bound
        every chunk-pair join group near LSH_BUCKET_CAP² regardless of
        bucket size."""
        from aircraftutilization_etl_spark.operators.dedup import (
            LSH_BUCKET_CAP,
            lsh_bands,
            with_shingle_array,
        )

        n = 300  # one 300-doc bucket per band: 44850 pairs, m = 5 chunks
        df = _docs(spark, [(i, "the same adversarial text body") for i in range(n)])
        shingled = with_shingle_array(df).persist()
        pairs = lsh_candidate_pairs(shingled)
        assert pairs.count() == n * (n - 1) // 2

        # bound the per-join-group size the way the guard shapes it:
        # members of one (band, band_key) hash into m = ceil(n/CAP)
        # chunks, so no (band, band_key, chunk) group may exceed the
        # cap by more than hash-uniformity slack (3x)
        banded = lsh_bands(shingled)
        m = -(-n // LSH_BUCKET_CAP)
        chunk_sizes = (
            banded.withColumn(
                "c", F.pmod(F.xxhash64("doc_id"), F.lit(m)).cast("int")
            )
            .groupBy("band", "band_key", "c")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        shingled.unpersist()
        assert chunk_sizes <= 3 * LSH_BUCKET_CAP

    def test_guard_equals_plain_bucket_join_on_random_corpora(self, spark):
        """The chunk guard must be output-invariant: on seeded random
        corpora mixing duplicate families, near-dups and unique docs,
        the guarded candidate set equals the plain (unguarded)
        (band, band_key) self-join's."""
        import random

        from aircraftutilization_etl_spark.operators.dedup import (
            lsh_bands,
            with_shingle_array,
        )

        for seed in (7, 41, 1234):
            rng = random.Random(seed)
            rows = []
            doc_id = 0
            vocab = [f"w{seed}x{i}" for i in range(40)]
            for _fam in range(rng.randint(2, 5)):
                body = " ".join(rng.choices(vocab, k=rng.randint(6, 12)))
                for _ in range(rng.randint(1, 90)):  # some families huge
                    rows.append((doc_id, body))
                    doc_id += 1
                # a near-dup variant of the family
                rows.append((doc_id, body + " extraword"))
                doc_id += 1
            for _ in range(rng.randint(5, 15)):  # unique tail
                rows.append(
                    (doc_id, " ".join(f"u{seed}q{doc_id}t{j}" for j in range(8)))
                )
                doc_id += 1
            df = _docs(spark, rows)
            shingled = with_shingle_array(df).persist()
            guarded = {
                (r["id_a"], r["id_b"])
                for r in lsh_candidate_pairs(shingled).collect()
            }
            banded = lsh_bands(shingled)
            a = banded.select(
                F.col("doc_id").alias("id_a"), "band", "band_key"
            )
            b = banded.select(
                F.col("doc_id").alias("id_b"), "band", "band_key"
            )
            plain = {
                (r["id_a"], r["id_b"])
                for r in a.join(b, ["band", "band_key"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
                .collect()
            }
            shingled.unpersist()
            assert guarded == plain, seed

    def test_bucket_cap_preserves_cross_chunk_pairs(self, spark):
        """A mixed corpus (one oversized identical family + ordinary
        near-dups) must yield the same pairs with the guard active as
        the semantics demand: family pairs AND the unrelated near-dup
        pair, nothing else at threshold 0.9."""
        family = [(i, "x y z w v u t s") for i in range(100)]
        others = [(1000, "completely different alpha beta gamma delta"),
                  (1001, "completely different alpha beta gamma delta")]
        df = _docs(spark, family + others)
        out = minhash_lsh_duplicates(df, threshold=0.9)
        got = {(r["id_a"], r["id_b"]) for r in out.collect()}
        expected = {
            (a, b) for a in range(100) for b in range(100) if a < b
        } | {(1000, 1001)}
        assert got == expected


class TestSimHash:
    def test_identical_text_identical_print(self, spark):
        df = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma")])
        rows = [r["simhash"] for r in with_simhash(df).collect()]
        assert rows[0] == rows[1]
        assert len(rows[0]) == 16
        assert set(rows[0]) <= {"0", "1"}

    def test_single_word_matches_md5_bits(self, spark):
        df = _docs(spark, [(1, "hello")])
        print_ = with_simhash(df).collect()[0]["simhash"]
        h = hashlib.md5(b"hello").hexdigest()
        expected = "".join("1" if c >= "8" else "0" for c in h[:16])
        assert print_ == expected

    def test_near_text_close_in_hamming(self, spark):
        base = "the quick brown fox jumps over the lazy dog " * 3
        df = _docs(spark, [(1, base), (2, base + "extra"), (3, "zz yy xx ww vv")])
        prints = {r["doc_id"]: r["simhash"] for r in with_simhash(df).collect()}
        ham = lambda a, b: sum(x != y for x, y in zip(a, b))
        assert ham(prints[1], prints[2]) <= ham(prints[1], prints[3])


# --- edit-distance pairs --------------------------------------------------


def test_edit_distance_pairs_vs_bruteforce(spark):
    """Prefiltered pairs must equal brute-force levenshtein pairs —
    including short strings (below the q-gram guarantee) and
    cross-bucket long/short pairs."""
    import itertools

    from aircraftutilization_etl_spark.operators.dedup import (
        edit_distance_pairs,
    )

    vals = [
        (0, "the quick brown fox"),
        (1, "the quick brown fux"),     # dist 1
        (2, "the quick brown foxes"),   # dist 2
        (3, "completely different"),
        (4, "ab"),                      # shorter than one gram
        (5, "abc"),                     # dist 1 from "ab"
        (6, "abcd"),                    # dist 2 from "ab"
        (7, "xbcd"),                    # dist 1 from "abcd"
        (8, ""),                        # empty
        (9, "ab"),                      # exact dup of 4
    ]

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = sorted(
        (i, j, lev(a, b))
        for (i, a), (j, b) in itertools.combinations(vals, 2)
        if lev(a, b) <= 2
    )
    df = spark.createDataFrame(vals, "doc_id long, title string")
    got = sorted(
        (r["id_a"], r["id_b"], r["dist"])
        for r in edit_distance_pairs(df).collect()
    )
    assert got == want


def test_incremental_lsh_equals_full_rerun_slice(spark):
    """incremental(batch vs corpus) must produce exactly the full-run
    pairs that touch >=1 batch doc — nothing lost, nothing extra."""
    from aircraftutilization_etl_spark.operators.dedup import (
        incremental_lsh_duplicates,
        minhash_lsh_duplicates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = []
    for i in range(30):
        # clusters of 3 near-identical docs
        rows.append((i, base + f" variant {i // 3} tail {i % 3}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = df.filter("doc_id >= 24")
    corpus = df.filter("doc_id < 24")

    full = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_lsh_duplicates(df, 0.5).collect()
    }
    want = {
        (a, b, j) for (a, b, j) in full if a >= 24 or b >= 24
    }
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in incremental_lsh_duplicates(batch, corpus, 0.5).collect()
    }
    assert got == want
    assert want  # the fixture actually produces cross-boundary pairs


class TestContainmentPairs:
    def test_quote_inclusion_detected(self, spark):
        from aircraftutilization_etl_spark.operators.dedup import (
            containment_pairs,
            doc_shingles,
            shingle_jaccard_pairs,
        )

        quote = "the quick brown fox jumps over the lazy dog"
        long_doc = quote + " " + " ".join(f"w{i}" for i in range(200))
        docs = spark.createDataFrame(
            [(1, quote), (2, long_doc)], "doc_id long, text string"
        )
        sh = doc_shingles(docs)
        cont = {
            (r.id_src, r.id_dst): r.containment
            for r in containment_pairs(sh, 0.9).collect()
        }
        # the short doc is fully contained in the long one...
        assert cont[(1, 2)] == 1.0
        assert (2, 1) not in cont  # ...but not vice versa
        # ...and Jaccard misses the pair entirely at the same bar
        assert shingle_jaccard_pairs(doc_shingles(docs), 0.5).count() == 0

    def test_direction_denominators(self, spark):
        from aircraftutilization_etl_spark.operators.dedup import (
            containment_pairs,
            doc_shingles,
        )

        # doc 1: shingles {a b c, b c d}; doc 2 shares exactly one
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "b c d e f g")],
            "doc_id long, text string",
        )
        out = {
            (r.id_src, r.id_dst): r.containment
            for r in containment_pairs(doc_shingles(docs), 0.0).collect()
        }
        assert out[(1, 2)] == 0.5   # 1 common of doc1's 2 shingles
        assert out[(2, 1)] == 0.25  # 1 common of doc2's 4 shingles


class TestSimhashHammingPairs:
    def test_exhaustive_vs_bruteforce(self, spark):
        import itertools

        from aircraftutilization_etl_spark.operators.dedup import (
            simhash_hamming_pairs,
        )

        prints = {
            1: "0000000000000000",
            2: "0000000000000011",  # d(1,2)=2
            3: "0000000011110000",  # d(1,3)=4
            4: "0000000000000001",  # d(1,4)=1, d(2,4)=1
            5: "1111111111111111",
        }
        df = spark.createDataFrame(
            list(prints.items()), "doc_id long, simhash string"
        )
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in simhash_hamming_pairs(df, max_hamming=2).collect()
        }
        want = {}
        for a, b in itertools.combinations(sorted(prints), 2):
            d = sum(x != y for x, y in zip(prints[a], prints[b]))
            if d <= 2:
                want[(a, b)] = d
        assert got == want

    def test_rejects_unguaranteed_budget(self, spark):
        import pytest as _pytest

        from aircraftutilization_etl_spark.operators.dedup import (
            simhash_hamming_pairs,
        )

        df = spark.createDataFrame([(1, "0" * 16)], "doc_id long, simhash string")
        with _pytest.raises(ValueError):
            simhash_hamming_pairs(df, max_hamming=4)


class TestRemovalSpans:
    """Exact-substring removal spans: hand-built corpora with known
    duplicated 3-gram positions and merge outcomes."""

    def _spans(self, spark, rows):
        from aircraftutilization_etl_spark.operators.dedup import removal_spans

        df = _docs(spark, rows)
        return {
            (r.doc_id, r.span_start, r.span_end, r.span_words)
            for r in removal_spans(df).collect()
        }

    def test_cross_doc_duplicate_marks_both_sides(self, spark):
        # "x y z" appears in both docs -> one 3-word span each, at the
        # right word offsets (doc 2 shifted by its leading word)
        got = self._spans(
            spark,
            [(1, "x y z a b c"), (2, "q x y z d e")],
        )
        assert (1, 0, 3, 3) in got
        assert (2, 1, 4, 3) in got
        # the non-repeated tails never appear in any span
        assert all(
            not (d == 1 and s >= 3) and not (d == 2 and s >= 4)
            for d, s, _, _ in got
        )

    def test_overlapping_shingles_merge_into_one_span(self, spark):
        # "x y z w" duplicated as a block: shingles at pos 0 and 1
        # overlap -> a single merged [0, 4) span, not two
        got = self._spans(
            spark, [(1, "x y z w a b c"), (2, "x y z w d e f")]
        )
        assert (1, 0, 4, 4) in got
        assert (2, 0, 4, 4) in got

    def test_disjoint_repeats_stay_separate_spans(self, spark):
        # two duplicated trigrams separated by a >3-word novel gap in
        # doc 1 -> two distinct spans
        got = self._spans(
            spark,
            [
                (1, "x y z n1 n2 n3 n4 p q r"),
                (2, "x y z m1 m2 m3 m4 p q r"),
            ],
        )
        assert (1, 0, 3, 3) in got and (1, 7, 10, 3) in got
        assert (2, 0, 3, 3) in got and (2, 7, 10, 3) in got

    def test_adjacent_intervals_coalesce(self, spark):
        # duplicated trigrams at pos 0 and pos 3 (gap-free adjacency:
        # [0,3) + [3,6)) merge into [0,6)
        got = self._spans(
            spark,
            [
                (1, "x y z p q r tail1 one"),
                (2, "x y z mid1 mid2 mid3 p q r"),
            ],
        )
        assert (1, 0, 6, 6) in got

    def test_within_doc_repeat_is_marked(self, spark):
        # min_count counts OCCURRENCES, not documents: a self-repeated
        # trigram inside a single doc is marked too
        got = self._spans(spark, [(1, "x y z a1 a2 a3 a4 x y z")])
        assert (1, 0, 3, 3) in got and (1, 7, 10, 3) in got

    def test_unique_corpus_has_no_spans(self, spark):
        got = self._spans(
            spark, [(1, "a b c d e"), (2, "f g h i j")]
        )
        assert got == set()


def test_removal_spans_randomized_vs_scalar_replay(spark):
    """Seeded random word-soup corpora (small vocab forces repeats):
    the Spark spans must equal a direct scalar replay of the
    mark-then-merge semantics."""
    import random

    from aircraftutilization_etl_spark.operators.dedup import (
        SHINGLE_N,
        removal_spans,
    )

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        vocab = ["a", "b", "c", "d"]
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25))))
            for i in range(12)
        ]
        # scalar replay
        occ = []
        for d, t in docs:
            ws = t.split()
            for p in range(len(ws) - SHINGLE_N + 1):
                occ.append((d, p, " ".join(ws[p : p + SHINGLE_N])))
        from collections import Counter

        counts = Counter(s for _, _, s in occ)
        marked = sorted((d, p) for d, p, s in occ if counts[s] >= 2)
        expect = set()
        cur = None
        for d, p in marked:
            if cur and cur[0] == d and p <= cur[2]:
                cur = (d, cur[1], max(cur[2], p + SHINGLE_N))
            else:
                if cur:
                    expect.add((cur[0], cur[1], cur[2], cur[2] - cur[1]))
                cur = (d, p, p + SHINGLE_N)
        if cur:
            expect.add((cur[0], cur[1], cur[2], cur[2] - cur[1]))

        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_words)
            for r in removal_spans(df).collect()
        }
        assert got == expect, f"seed {seed}"


class TestEditDistanceHotGramDrop:
    """VERDICT r9 #2: ultra-frequent q-grams are dropped from the
    candidate join (a gram in f strings owes f²/2 pairs in ONE task)
    with the count-filter guarantee re-derived over surviving grams.
    Output must stay EXACTLY brute-force-equal under every cap."""

    @staticmethod
    def _lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    @classmethod
    def _brute(cls, vals, k=2):
        import itertools

        return sorted(
            (i, j, cls._lev(a, b))
            for (i, a), (j, b) in itertools.combinations(vals, 2)
            if cls._lev(a, b) <= k
        )

    def _run(self, spark, vals, max_gram_df=None):
        from aircraftutilization_etl_spark.operators.dedup import (
            edit_distance_pairs,
        )

        df = spark.createDataFrame(vals, "doc_id long, title string")
        return sorted(
            (r["id_a"], r["id_b"], r["dist"])
            for r in edit_distance_pairs(df, max_gram_df=max_gram_df).collect()
        )

    def test_auto_cap_engages_above_floor(self, spark):
        """270 titles all containing one stop-gram ('zzz', df=270 >
        EDIT_GRAM_DF_FLOOR=256, so the auto cap drops it) — long titles
        with near-dup variants, short stop-gram-saturated stragglers,
        and cross-length pairs. Result must equal brute force."""
        from aircraftutilization_etl_spark.operators.dedup import (
            EDIT_GRAM_DF_FLOOR,
        )

        vals = []
        for i in range(260):
            # long, mostly-rare-gram titles; consecutive ids differ in
            # the digit block (dist 1-2 for some pairs)
            vals.append((i, f"zzz doc {i:05d} stable tail"))
        # typo variants of a few of them (dist 1)
        vals.append((300, "zzz doc 00007 stable tajl"))
        vals.append((301, "zzz doc 00100 stable tai"))
        # short stop-gram-saturated strings (unsafe bucket)
        vals += [(310, "zzzzzz"), (311, "zzzzz"), (312, "zzzzzzz"),
                 (313, "zzz"), (314, ""), (315, "zz")]
        assert len(vals) - 6 > EDIT_GRAM_DF_FLOOR - 10  # corpus sanity
        assert self._run(spark, vals) == self._brute(vals)

    def test_forced_drop_routes_through_unsafe_bucket(self, spark):
        """max_gram_df=1 drops EVERY shared gram (df ≥ 2), so no true
        pair can survive the rare-gram join — the safe/unsafe split
        must route all of them through the exhaustive pass. This is the
        adversarial extreme of the cap; output still brute-force-equal."""
        vals = [
            (0, "the quick brown fox"),
            (1, "the quick brown fux"),
            (2, "the quick brown foxes"),
            (3, "completely different"),
            (4, "ab"),
            (5, "abc"),
            (6, "abcd"),
            (7, "xbcd"),
            (8, ""),
            (9, "ab"),
            (10, "the quick brown f"),
        ]
        for cap in (1, 2, 1000):
            assert self._run(spark, vals, max_gram_df=cap) == self._brute(
                vals
            ), f"cap={cap}"


class TestHotShingleChunking:
    """SCALE.md round-10 Zipf audit: the exact-Jaccard/containment
    shingle self-join and the SimHash band self-join are chunk-guarded
    like LSH — identical output, per-task pair blocks ≤ cap²."""

    def test_jaccard_identical_corpus_above_cap(self, spark):
        from aircraftutilization_etl_spark.operators.dedup import (
            SHINGLE_BUCKET_CAP,
            doc_shingles,
            shingle_jaccard_pairs,
        )

        n = SHINGLE_BUCKET_CAP + 44  # every shingle bucket > cap → m=2
        df = _docs(spark, [(i, "the same adversarial text body") for i in range(n)])
        rows = shingle_jaccard_pairs(doc_shingles(df), threshold=0.9).collect()
        assert len(rows) == n * (n - 1) // 2
        assert all(r["jaccard"] == 1.0 for r in rows)

    def test_containment_mixed_corpus_matches_unchunked_semantics(self, spark):
        from aircraftutilization_etl_spark.operators.dedup import (
            containment_pairs,
            doc_shingles,
        )

        # small corpus: chunk machinery degenerates (m=1) and the
        # hand-computed directed containments must be exact
        docs = _docs(spark, [(1, "a b c d"), (2, "a b c x y z")])
        out = {
            (r.id_src, r.id_dst): r.containment
            for r in containment_pairs(doc_shingles(docs), 0.0).collect()
        }
        assert out[(1, 2)] == 0.5
        assert out[(2, 1)] == 0.25

    def test_simhash_identical_corpus_above_cap(self, spark):
        from aircraftutilization_etl_spark.operators.dedup import (
            LSH_BUCKET_CAP,
            simhash_hamming_pairs,
        )

        n = 2 * LSH_BUCKET_CAP + 22  # one band bucket of 150 → m=3
        df = spark.createDataFrame(
            [(i, "0101010101010101") for i in range(n)],
            "doc_id long, simhash string",
        )
        rows = simhash_hamming_pairs(df, max_hamming=2).collect()
        assert len(rows) == n * (n - 1) // 2
        assert all(r["hamming"] == 0 for r in rows)
