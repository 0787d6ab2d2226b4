"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All engine-portable by construction: the only hash primitive is md5
(identical hex output in Spark and DuckDB), so every operator here has an
exact SQL oracle. MinHash uses the *lexicographic minimum of md5 strings*
per seeded hash function — a valid uniform min-hash that needs no
hex→integer conversion.

Scale design (the point of these operators at 100 TB):
- shingling is a per-row projection into a per-document shingle array;
  MinHash signatures cost exactly one map-side-combined shuffle on the
  doc id (K codegen'd md5 columns + K conditional MIN aggregates);
- the shingle/word arrays are materialized as intermediate projection
  columns, never re-derived inside higher-order-function lambdas
  (a lambda that embeds the split expression re-evaluates it per array
  element — the quadratic trap this module deliberately avoids; the
  multi-reference pattern keeps CollapseProject from re-inlining them);
- pair generation never crosses the full corpus: exact dedup shuffles on
  the fingerprint, LSH shuffles on (band, band_key) buckets, n-gram
  Jaccard shuffles on the shingle — each key-local;
- every text-derived join key has a Zipf-head guard (SCALE.md round-10
  audit): the band/shingle self-joins chunk hot buckets
  (_chunked_pair_join — identical output, per-task work ≤ cap²), and
  the edit-distance q-gram join drops ultra-frequent grams outright
  with the count-filter guarantee re-derived over survivors;
- verification joins run only over candidate pairs (two id-keyed joins
  against the per-doc shingle arrays + a per-row array_intersect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .distribute import (
    CORPUS_CACHE,
    MODEL_CACHE,
    cache,
    ensure_scan_parallelism,
    shuffle_width,
)
from .skew import chunked_self_pairs
from .text import fingerprint_expr, words_expr

SHINGLE_N = 3
MINHASH_K = 16  # 16 hash functions → 4 bands × 4 rows
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_K // MINHASH_BANDS


def with_shingle_array(df: DataFrame) -> DataFrame:
    """(doc_id, shingles) — the distinct word-``SHINGLE_N``-grams of each
    document's ``text`` as one array column, one row per document.

    Documents with fewer than SHINGLE_N words are dropped (they can never
    pair) — the same convention as the SQL oracles. Two-step projection:
    the word array is computed once per row, and the shingle lambda only
    slices it.

    The frame is repartitioned on the id BEFORE the compute-heavy
    projections: that moves raw text bytes (the smallest the data will
    ever be) instead of the 16-hash signature matrix, spreads the
    shingle/hash work across all cores even when the scan is a single
    small file, and the id-hash partitioning then satisfies the
    signature groupBy and pre-aligns the verification joins — no second
    shuffle downstream.

    The partition count is EXPLICIT (r11 opt): a bare
    ``repartition(col)`` is fair game for AQE's byte-based coalescing,
    which folds a sub-MB text exchange to one partition and serializes
    the per-row hash work on one core for every consumer that does not
    cache the result (profiled: contamination_report ran its whole
    shingle pass single-task). The pinned width is the configured
    shuffle parallelism — exactly what the exchange would use anyway.
    """
    df = df.repartition(shuffle_width(df.sparkSession), F.col("doc_id"))
    w = df.select(F.col("doc_id"), words_expr().alias("__words"))
    shingle_list = F.transform(
        F.sequence(F.lit(0), F.size(F.col("__words")) - SHINGLE_N),
        lambda i: F.concat_ws(" ", F.slice(F.col("__words"), i + 1, SHINGLE_N)),
    )
    return w.filter(F.size("__words") >= SHINGLE_N).select(
        "doc_id", F.array_distinct(shingle_list).alias("shingles")
    )


def doc_shingles(df: DataFrame) -> DataFrame:
    """Exploded (id, shingle) view — for operators that genuinely need
    the inverted layout (shingle-keyed pair generation).

    ``explode_outer``, deliberately: plain ``explode`` makes Catalyst
    infer a ``size(shingles) > 0`` filter and push it into the scan,
    re-inlining the whole shingle construction as a scan predicate
    (evaluated twice per row, before the repartition spreads the work).
    The word-count filter already guarantees non-empty arrays, so outer
    explode is semantically identical here.
    """
    return with_shingle_array(df).select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    )


def exact_duplicates(df: DataFrame) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint.

    Returns one row per content group: representative (min id), member
    count. Scale: one shuffle on the 128-bit fingerprint — the classic
    hash-groupBy dedup.
    """
    return (
        df.select(F.col("doc_id"), fingerprint_expr().alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def shingle_jaccard_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """All document pairs with shingle-set Jaccard ≥ threshold.

    Pairs are generated only for documents sharing at least one shingle
    (equi-join on the shingle), then scored exactly:
    J = |A∩B| / (|A|+|B|−|A∩B|).

    The shingle table feeds the sizes aggregate plus the chunked join;
    it is cached for the consumer's scope. Skew: a stop-shingle
    shared by f docs owes f² intersection rows by the exact semantics,
    but the chunked self-join (``_chunked_pair_join``) bounds any ONE
    task at ~SHINGLE_BUCKET_CAP² of them; the corpus-scale way to not
    pay Σf² at all is minhash_lsh_duplicates, whose banded buckets only
    collide near-identical docs.
    """
    shingles = cache(shingles, CORPUS_CACHE)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        _chunked_pair_join(shingles, ["shingle"], "doc_id", SHINGLE_BUCKET_CAP)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def rotation_expr(h, seed: int):
    """Seeded hash variant: the md5 hex rotated left by 2·seed chars.

    One strong 128-bit hash per shingle, K cheap rotations instead of K
    md5 computations (16× less hashing over the corpus). Each rotation
    leads with a different 8-hex window of the digest, giving K distinct
    lexicographic orderings for the min-hash. seed 0 is the identity.
    """
    if seed == 0:
        return h
    cut = 2 * seed
    return F.concat(F.substring(h, cut + 1, 32), F.substring(h, 1, cut))


def with_minhash_signature(shingled: DataFrame) -> DataFrame:
    """(doc_id, sig) — the K-element MinHash signature array per document.

    One md5 per shingle in a flat codegen projection (higher-order
    lambdas are interpreted per element and ~5× slower for hash work),
    K rotation columns derive the seeded orderings, then ONE groupBy(doc_id)
    with K conditional MIN aggregates builds the signature: partial
    aggregation collapses each partition to one row per document before
    the single shuffle on the id.
    """
    # explode_outer: see doc_shingles — avoids the inferred size()>0
    # scan predicate that would re-inline the shingle construction.
    exploded = shingled.select(
        "doc_id", F.explode_outer("shingles").alias("shingle")
    )
    base = exploded.select("doc_id", F.md5("shingle").alias("__h"))
    hashed = base.select(
        "doc_id",
        *[
            rotation_expr(F.col("__h"), s).alias(f"__h{s}")
            for s in range(MINHASH_K)
        ],
    )
    per_doc = hashed.groupBy("doc_id").agg(
        *[F.min(f"__h{s}").alias(f"__mh{s}") for s in range(MINHASH_K)]
    )
    return per_doc.select(
        "doc_id", F.array(*[f"__mh{s}" for s in range(MINHASH_K)]).alias("sig")
    )


def minhash_signatures(shingles_or_df: DataFrame) -> DataFrame:
    """MinHash signature matrix (id, seed, minhash): for seed i in
    [0, K), the lexicographic MIN over shingles of
    rotate(md5(shingle), 2·i hex chars).

    Accepts either the exploded (id, shingle) view or the array view.
    """
    if "shingles" not in shingles_or_df.columns:
        shingled = shingles_or_df.groupBy("doc_id").agg(
            F.collect_set("shingle").alias("shingles")
        )
    else:
        shingled = shingles_or_df
    sig = with_minhash_signature(shingled)
    return sig.select("doc_id", F.posexplode("sig").alias("seed", "minhash"))


def lsh_bands(shingled: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) — the signature split into MINHASH_BANDS
    bands; band_key = md5 of the band's sorted minhashes."""
    with_sig = with_minhash_signature(shingled)
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        F.array_sort(
                            F.slice(F.col("sig"), b * MINHASH_ROWS + 1, MINHASH_ROWS)
                        ),
                    )
                ).alias("band_key"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return with_sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", "bk.band", "bk.band_key"
    )


# Skew guard for the band self-join: buckets larger than this are split
# into hash chunks and joined chunk-pair-wise (identical OUTPUT, bounded
# per-task work). On an honest corpus almost every bucket is far below
# the cap, so the common path pays only the bucket-size join.
LSH_BUCKET_CAP = 64

# Chunk cap for the SIMHASH band self-join specifically (r11, the
# q_dedup_simhash_pairs drift diagnosis): a 16-bit band slice is a tiny
# key space, so band buckets grow LINEARLY with the corpus by pigeonhole
# (max f = 404 at the sf0.1 bench corpus — chunking engages on honest
# data, unlike minhash-LSH where only near-identical docs collide). The
# right cap balances chunk replication (each hot-bucket member is
# copied m = ceil(f / cap) times per side) against per-task pair work —
# and simhash's per-pair verify is `bands` integer XOR+popcounts,
# ~two orders cheaper than LSH's exact-Jaccard array_intersect, so its
# task budget affords a 16x bigger pair block: 256² ≈ 65k popcount
# pairs per task group (the SHINGLE_BUCKET_CAP arithmetic), vs m = 7
# sevenfold replication the shared 64 cap was forcing at sf0.1.
HAMMING_BUCKET_CAP = 256

# Chunk cap for the raw-shingle self-joins (exact Jaccard/containment):
# a stop-shingle shared by f documents genuinely owes f²/2 intersection
# rows (exact set-overlap semantics — nothing can be dropped), so the
# cap only bounds PER-TASK work, never the total. 256 → ≤ ~65k joined
# rows per chunk-pair group.
SHINGLE_BUCKET_CAP = 256


# The chunked self-join itself lives in operators/skew.py (shared with
# the tf-idf term index in operators/text.py, which cannot import this
# module — dedup imports text).
_chunked_pair_join = chunked_self_pairs


def lsh_candidate_pairs(shingled: DataFrame) -> DataFrame:
    """Docs colliding on any band's full key become candidate pairs.

    Scale: the self-join shuffles on (band, band_key). On an honest
    corpus only near-identical documents collide, so buckets stay tiny —
    but an adversarial corpus (thousands of IDENTICAL docs) makes one
    bucket quadratic in a single task. The skew guard chunks each
    bucket into ceil(n / LSH_BUCKET_CAP) hash groups and joins on
    (band, band_key, chunk_a, chunk_b): side A replicates each member
    across its row of chunk pairs, side B across its column, so every
    pair still meets EXACTLY once per band (output unchanged, certified
    by the unchanged q_dedup_minhash_lsh oracle) while per-task work is
    bounded by CAP² — the blocked self-join discipline of
    operators/similarity.cosine_pairs applied to the bucket join.
    Normal-sized buckets have m=1, where the chunk machinery degenerates
    to the plain bucket join (no replication).

    The chunked self-join is ``_chunked_pair_join``. Its r11 form is
    stats-first: one map-side-combined bucket-size aggregate picks the
    regime, the common cold path joins the banded frame directly, and
    only the adversarial hot path pays the per-row bucket-count window
    the chunk replication needs.

    The banded frame is PERSISTED (r11 opt): it feeds three plan
    branches (the stats aggregate + both self-join sides), and the
    signature subtree above it — shingle explode, per-shingle md5, K
    rotations, K string-MIN SortAggregates — is the single most
    expensive kernel in the query (profiled: it executed once per
    branch, 3x, ~2/3 of the query's task CPU). The cache is
    band-sized (id, band, 32-char key — 4 rows/doc, never the text),
    lives until the consumer's cache scope exits, and turns the kernel
    into a compute-once pass.
    """
    # band-sized (4 narrow rows/doc): deserialized memory is the
    # right class — declared explicitly (VERDICT r11 #3)
    banded = cache(lsh_bands(shingled), MODEL_CACHE)
    return (
        _chunked_pair_join(
            banded,
            ["band", "band_key"],
            "doc_id",
            LSH_BUCKET_CAP,
        )
        .select("id_a", "id_b")
        .distinct()
    )


def verify_jaccard_pairs(
    candidates: DataFrame, shingled: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs via two id-keyed
    joins against the per-doc shingle arrays and a per-row
    array_intersect — the verification cost is proportional to the
    number of candidates, not the corpus size."""
    a = shingled.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = shingled.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    joined = candidates.join(a, "id_a").join(b, "id_b")
    joined = joined.withColumn(
        "n_common", F.size(F.array_intersect("sh_a", "sh_b"))
    )
    return (
        joined.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_duplicates(df: DataFrame, threshold: float) -> DataFrame:
    """MinHash-LSH near-dup pipeline: shingle → minhash → band → candidate
    pairs → exact-Jaccard verification ≥ threshold.

    Plan shape: one scan derives per-row shingle arrays (one early
    id-repartition distributes the hash work), bands explode 4 rows/doc
    into the bucket self-join, and verification touches candidates only.
    The shingle-array table feeds three consumers (signatures + both
    verification sides), so it is persisted — MEMORY_AND_DISK, spilling
    at corpus scale, where a production pipeline would stage it (or the
    signature matrix) to a table between passes anyway.
    """
    shingled = cache(with_shingle_array(df), CORPUS_CACHE)
    candidates = lsh_candidate_pairs(shingled)
    return verify_jaccard_pairs(candidates, shingled, threshold)


def _simhash_bits(hashed, bits: int):
    def bit(p: int):
        # vote_p = Σ_words (digit_p >= '8' ? 1 : -1)
        votes = F.aggregate(
            hashed,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.substring(h, p + 1, 1) >= "8", 1).otherwise(-1),
        )
        return F.when(votes > 0, F.lit("1")).otherwise(F.lit("0"))

    return F.concat(*[bit(p) for p in range(bits)])


def _word_hash_expr(w, bits: int):
    """Per-word hex digest wide enough for ``bits`` vote digits: one
    md5 covers 32 bits; wider prints concatenate salted digests
    (md5(w) || md5('!1'||w) || ...) — the same construction the SQL
    oracle spells out, so prints stay engine-portable at any width."""
    n_hashes = (bits + 31) // 32
    parts = [F.md5(w)] + [
        F.md5(F.concat(F.lit(f"!{i}"), w)) for i in range(1, n_hashes)
    ]
    return F.concat(*parts) if len(parts) > 1 else parts[0]


def with_simhash(df: DataFrame, bits: int = 16) -> DataFrame:
    """(id, simhash) fingerprints.

    Two execution strategies with IDENTICAL output (bit p votes by hex
    digit p of the per-word digest; same digest construction, same ±1
    vote rule):

    - bits ≤ 32: pure column expressions — the word digests materialize
      once per row and each bit is one fold, all JVM-side.
    - bits > 32: Spark's interpreted higher-order-function evaluation
      makes ``bits`` folds per row the bottleneck (measured 21 s vs
      <2 s at sf0.1 for 64-bit prints), so wide prints run as an
      Arrow-batched mapInPandas kernel: votes accumulate in one numpy
      matrix per batch, with a per-word digest cache exploiting natural
      vocabulary repetition (zero shuffles either way).

    Both strategies are per-row compute over the scan, so an
    under-partitioned small file would serialize them on one core —
    spread the raw text first (r11 opt; no-op at corpus scale).
    """
    df = ensure_scan_parallelism(df, "doc_id")
    if bits <= 32:
        hashed = df.select(
            F.col("doc_id"),
            F.transform(
                words_expr(), lambda w: _word_hash_expr(w, bits)
            ).alias("__hashed"),
        )
        return hashed.select(
            "doc_id", _simhash_bits(F.col("__hashed"), bits).alias("simhash")
        )

    import hashlib
    import re

    import numpy as np
    import pandas as pd

    n_hashes = (bits + 31) // 32
    thresh = ord("8")

    def _prints(batches):
        cache: dict[str, np.ndarray] = {}

        def digits(word: str) -> np.ndarray:
            v = cache.get(word)
            if v is None:
                hexs = hashlib.md5(word.encode()).hexdigest()
                for i in range(1, n_hashes):
                    hexs += hashlib.md5(f"!{i}{word}".encode()).hexdigest()
                # vote vector: +1 where hex digit >= '8' else -1
                v = np.where(
                    np.frombuffer(hexs[:bits].encode(), dtype=np.uint8)
                    >= thresh,
                    1,
                    -1,
                ).astype(np.int32)
                cache[word] = v
            return v

        for pdf in batches:
            outs = []
            for text in pdf["text"]:
                votes = np.zeros(bits, dtype=np.int32)
                # split(trim(s), '\s+') semantics: '' yields ['']
                for w in re.split(r"\s+", (text or "").strip()):
                    votes += digits(w)
                outs.append("".join("1" if x > 0 else "0" for x in votes))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": outs})

    return df.select("doc_id", "text").mapInPandas(
        _prints, "doc_id long, simhash string"
    )


def novelty_scores(df: DataFrame) -> DataFrame:
    """Per-document content novelty: the fraction of a document's
    distinct shingles whose FIRST corpus occurrence (minimum id) is this
    document — near-1 for fresh content, near-0 for remixes of earlier
    documents. A curation signal between exact dedup (catches only
    verbatim copies) and near-dup pairs (catches high-overlap pairs):
    novelty sees diffuse borrowing from MANY earlier documents.

    ``novel_ppm`` is integer-exact (no float ties). Scale: two shuffles —
    one groupBy on the shingle (first-occurrence map; combiner-friendly
    min), one back on the id — both linear in corpus shingle count, no
    pairwise anything.
    """
    shingles = doc_shingles(df)
    first = shingles.groupBy("shingle").agg(F.min("doc_id").alias("first_id"))
    return (
        shingles.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_id") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.expr("CAST((n_novel * 1000000) DIV n_shingles AS BIGINT)").alias(
                "novel_ppm"
            ),
        )
    )


# edit_distance_pairs: the Levenshtein radius and the q-gram length of
# its count filter.
EDIT_MAX_DIST = 2
EDIT_GRAM_Q = 3

# Ultra-frequent q-gram drop (VERDICT r9 #2): grams present in more than
# max(FLOOR, n_strings // DENOM) strings are dropped from the candidate
# join — a gram shared by f strings owes f²/2 candidate pairs in ONE
# join task (the r9 probe measured one trigram spanning 2,642 of 7,500
# titles ≈ 3.5M pairs, a ~14-minute straggler; at 100 TB a stop-gram
# owns the stage), and a gram that frequent cannot discriminate anyway.
# Correctness is preserved by re-deriving the count-filter guarantee
# over the SURVIVING grams only — see edit_distance_pairs.
EDIT_GRAM_DF_FLOOR = 256
EDIT_GRAM_DF_DENOM = 20

# r11 (optimization): the rare-gram candidate join is restricted to
# pairs with at least one SAFE side — both-unsafe pairs are exhaustively
# covered by the blocked pass, so emitting them from the gram join too
# only duplicated work (on the gram-poor sf0.1 bench corpus the ENTIRE
# 1.5M-pair gram-join output was redundant, a serial 10 s stage). The
# safe/unsafe flag rides a broadcast of the unsafe-id set, which is tiny
# by construction (a string is unsafe only when shorter than
# q·(max_dist+1) chars or saturated with stop-grams); this cap bounds
# the broadcast at ~32 MB of bigint ids (the same order as the enforced
# similarity-broadcast budget). Past it — a degenerate corpus where the
# blocked pass is quadratically doomed regardless — the operator falls
# back to the r10 shape (unrestricted gram join + distinct over the
# union), which stays correct without the broadcast.
EDIT_UNSAFE_BCAST_ROWS = 4_000_000


def edit_distance_pairs(
    df: DataFrame, max_gram_df: int | None = None
) -> DataFrame:
    """All unordered ``doc_id`` pairs whose ``title``s lie within
    Levenshtein distance ``max_dist`` = ``EDIT_MAX_DIST`` (2) —
    typo-level near-dup (titles, product names, entity mentions).

    Sub-quadratic candidate generation by the classic q-gram count
    filter (Gravano et al., VLDB 2001; q = ``EDIT_GRAM_Q``, 3), hardened
    against Zipf-head grams. One edit overlaps at most ``q`` gram
    positions, and distinct grams occupy disjoint position sets, so
    ``max_dist`` edits destroy at most ``q·max_dist`` DISTINCT grams of
    a string. Ultra-frequent grams (document frequency >
    ``max_gram_df``, default
    ``max(EDIT_GRAM_DF_FLOOR, n_strings // EDIT_GRAM_DF_DENOM)``) are
    dropped before the join — they cannot discriminate, and their
    f²-pair blocks are exactly the single-task stragglers the r9 probe
    measured. The count-filter guarantee is re-derived over SURVIVING
    grams: call a string SAFE when it has ≥ ``q·max_dist + 1`` distinct
    rare grams. For any true pair (dist ≤ max_dist) with at least one
    safe side, ≤ q·max_dist of the safe side's rare grams are destroyed
    by the edits, so ≥ 1 survives into the partner — and rarity is a
    GLOBAL property of the gram, so both sides emit it into the
    rare-gram equi-self-join. Only pairs where BOTH sides are unsafe
    (shorter than q·(max_dist+1) chars, or saturated with stop-grams)
    need the exhaustive length-banded pass, and that population is tiny
    by construction. Exact ``levenshtein`` (JVM codegen) verifies
    candidates only: no false negatives by the argument above, false
    candidates die in verification — the candidates-then-verify shape
    of the MinHash pipeline.

    Scale: the rare-gram join shuffles (gram, id) rows with per-gram
    fan-out capped at the df cap (per-task pair blocks ≤ cap²); the
    document-frequency table is one map-side-combined aggregate; the
    frequent-gram set (≤ gram_rows/cap members by counting) rides a
    broadcast anti-join; the safe/unsafe split is one id-keyed join.
    Verification is |candidates|.
    """
    s = cache(
        df.select(F.col("doc_id").alias("id"), F.col("title").alias("s")),
        CORPUS_CACHE,
    )
    grams = cache(
        s.filter(F.length("s") >= EDIT_GRAM_Q)
        .select(
            "id",
            "s",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, length(s) - "
                        f"{EDIT_GRAM_Q - 1}), "
                        f"i -> substring(s, i, {EDIT_GRAM_Q}))"
                    )
                )
            ).alias("gram"),
        ),
        CORPUS_CACHE,
    )
    df_tbl = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    if max_gram_df is None:
        # auto cap: scale-relative with an absolute floor, computed as
        # a broadcast scalar join (no driver action in the plan)
        n = s.agg(F.count(F.lit(1)).alias("__n_strings"))
        freq = (
            df_tbl.crossJoin(F.broadcast(n))
            .filter(
                F.col("__df")
                > F.greatest(
                    F.lit(EDIT_GRAM_DF_FLOOR),
                    (F.col("__n_strings") / EDIT_GRAM_DF_DENOM).cast(
                        "bigint"
                    ),
                )
            )
            .select("gram")
        )
    else:
        freq = df_tbl.filter(F.col("__df") > max_gram_df).select("gram")
    # the frequent-gram set is model-sized by counting (≤ total gram
    # rows / cap); materialize it once — three consumers below would
    # otherwise each re-run the df aggregate (the tiny-lineage trap:
    # exchange reuse does not dedupe re-derived small aggregates)
    freq = freq.localCheckpoint(eager=True)
    rare = grams.join(F.broadcast(freq), "gram", "left_anti")
    # safe ⇔ ≥ q·max_dist + 1 distinct rare grams (rows of `rare` are
    # distinct per (id, gram) already — grams came from array_distinct)
    rare_cnt = rare.groupBy("id").agg(F.count(F.lit(1)).alias("__r"))
    unsafe = cache(
        s.join(rare_cnt, "id", "left")
        .filter(
            F.coalesce(F.col("__r"), F.lit(0)) <= EDIT_GRAM_Q * EDIT_MAX_DIST
        )
        .select("id", "s"),
        CORPUS_CACHE,
    )
    # Exhaustive pass over the unsafe set as a BLOCKED self-join, not a
    # broadcast nested loop: a BNL's parallelism is the streamed side's
    # partition count, and AQE coalesces the byte-small unsafe frame
    # into 1-2 partitions — on a gram-poor corpus (tiny trigram
    # alphabet, every string unsafe) that single task owned the stage
    # (measured 330 s of the 7,500-title probe's 366 s). The chunk
    # helper spreads the u² pairs over ceil(u/cap)² groups of ≤ cap²
    # pairs; the length filter then prunes before levenshtein. The u²
    # total is inherent — these strings have no discriminating grams —
    # but no task ever exceeds the cap², whatever u is.
    cand_short = chunked_self_pairs(
        unsafe.withColumn("__all", F.lit(0)),
        ["__all"],
        "id",
        SHINGLE_BUCKET_CAP,
        payload={"s": ("s_a", "s_b")},
    ).filter(
        F.abs(F.length(F.col("s_a")) - F.length(F.col("s_b")))
        <= EDIT_MAX_DIST
    )
    # unsafe is persisted and already materialized by the stats job in
    # chunked_self_pairs above, so this count is an O(1) cache read —
    # the same eager model-sized-statistic pattern the chunk guard uses.
    n_unsafe = unsafe.count()
    if n_unsafe <= EDIT_UNSAFE_BCAST_ROWS:
        # Candidate join restricted to pairs with ≥ 1 SAFE side (see
        # EDIT_UNSAFE_BCAST_ROWS): side a carries only safe strings'
        # rare grams; side b carries all. A true pair with safe side x
        # keeps ≥ 1 of x's rare grams in partner y, and rarity is
        # global, so (gram, y) is on side b — no true pair is lost.
        # Safe-safe pairs join under a.id < b.id (met once per shared
        # gram, as before); safe-unsafe under a.id != b.id (the unsafe
        # partner never appears on side a, so once per shared gram
        # too); least/greatest then normalizes the orientation. The
        # two branches are now DISJOINT by construction (≥1-safe vs
        # both-unsafe), so the union needs no global distinct.
        marker = F.broadcast(
            unsafe.select("id").withColumn("__u", F.lit(True))
        )
        rf = rare.join(marker, "id", "left")
        ga, gb = rf.filter(F.col("__u").isNull()).alias("a"), rf.alias("b")
        swap = F.col("a.id") > F.col("b.id")
        cand_long = (
            ga.join(
                gb,
                (F.col("a.gram") == F.col("b.gram"))
                & F.when(
                    F.col("b.__u").isNull(),
                    F.col("a.id") < F.col("b.id"),
                ).otherwise(F.col("a.id") != F.col("b.id")),
            )
            .select(
                F.least("a.id", "b.id").alias("id_a"),
                F.greatest("a.id", "b.id").alias("id_b"),
                F.when(swap, F.col("b.s")).otherwise(F.col("a.s")).alias(
                    "s_a"
                ),
                F.when(swap, F.col("a.s")).otherwise(F.col("b.s")).alias(
                    "s_b"
                ),
            )
            .distinct()
        )
        cand = cand_long.unionByName(cand_short)
    else:
        # degenerate-corpus fallback (unsafe set too big to broadcast):
        # the r10 shape — unrestricted gram join, distinct over the
        # union absorbs the both-unsafe overlap with the blocked pass
        ga, gb = rare.alias("a"), rare.alias("b")
        cand_long = (
            ga.join(
                gb,
                (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
                F.col("a.s").alias("s_a"),
                F.col("b.s").alias("s_b"),
            )
            .distinct()
        )
        cand = cand_long.unionByName(cand_short).distinct()
    # threshold form (Spark 3.5+): banded O(len·max_dist) DP with early
    # exit instead of the full O(len²) matrix — returns the exact
    # distance when ≤ max_dist and -1 past it, so the kept rows and
    # their dist values are bit-identical to the unbounded form
    return (
        cand.withColumn("dist", F.levenshtein("s_a", "s_b", EDIT_MAX_DIST))
        .filter(F.col("dist") >= 0)
        .select("id_a", "id_b", F.col("dist").cast("int").alias("dist"))
    )


def incremental_lsh_duplicates(
    new_docs: DataFrame,
    corpus: DataFrame,
    threshold: float,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new ingest batch: each new document
    against the existing corpus AND against the rest of the batch —
    without an all-corpus self-join. The production incremental mode:
    a daily ingest dedupes against a staged signature/band table in
    O(|batch| + collisions), never re-pairing the historical corpus
    with itself.

    Output: (id_a, id_b, jaccard) with id_a < id_b, covering exactly
    the pairs of the full-corpus run that touch ≥1 new document — the
    invariant the incremental test pins (incremental(batch) ∪
    prior-corpus pairs == full rerun).

    Scale: the batch's band rows join the corpus band table on
    (band, band_key) — a bucket probe whose cost tracks the batch and
    its collisions; at production scale the corpus bands/shingles are a
    staged table (here derived in-plan from the corpus frame), so the
    historical side is scan + join, no re-hashing of text if staged.
    """
    batch_sh = cache(with_shingle_array(new_docs), CORPUS_CACHE)
    corpus_sh = cache(with_shingle_array(corpus), CORPUS_CACHE)
    batch_bands = lsh_bands(batch_sh)
    corpus_bands = lsh_bands(corpus_sh)
    nb = batch_bands.select(F.col("doc_id").alias("id_n"), "band", "band_key")
    cb = corpus_bands.select(F.col("doc_id").alias("id_c"), "band", "band_key")
    cross = (
        nb.join(cb, ["band", "band_key"])
        .filter(F.col("id_n") != F.col("id_c"))
        .select(
            F.least("id_n", "id_c").alias("id_a"),
            F.greatest("id_n", "id_c").alias("id_b"),
        )
    )
    nb2 = batch_bands.select(F.col("doc_id").alias("id_b2"), "band", "band_key")
    within = (
        batch_bands.select(F.col("doc_id").alias("id_a"), "band", "band_key")
        .join(nb2, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b2"))
        .select("id_a", F.col("id_b2").alias("id_b"))
    )
    candidates = cross.unionByName(within).distinct()
    all_sh = corpus_sh.unionByName(batch_sh).select(
        "doc_id", "shingles"
    ).dropDuplicates(["doc_id"])
    return verify_jaccard_pairs(candidates, all_sh, threshold)


def containment_pairs(shingles: DataFrame, threshold: float) -> DataFrame:
    """Directed shingle-set containment C(src→dst) = |src ∩ dst| / |src|
    ≥ threshold — the asymmetric near-dup measure that catches a short
    document quoted inside a much longer one, which Jaccard structurally
    misses (a 50-shingle doc fully inside a 5000-shingle doc has
    J ≈ 0.01 but C = 1.0).

    Same candidate discipline as shingle_jaccard_pairs: pairs form only
    through the equi-join on the shingle (cost Σ per-shingle freq², never
    n²), hot shingles task-bounded by the same chunked self-join; the
    undirected intersection counts are computed once and emitted in both
    directions with the direction's own denominator.
    """
    shingles = cache(shingles, CORPUS_CACHE)
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    inter = (
        _chunked_pair_join(shingles, ["shingle"], "doc_id", SHINGLE_BUCKET_CAP)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    both = inter.join(sa, "id_a").join(sb, "id_b")
    fwd = both.select(
        F.col("id_a").alias("id_src"),
        F.col("id_b").alias("id_dst"),
        F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("id_src"),
        F.col("id_a").alias("id_dst"),
        F.round(F.col("n_common") / F.col("n_b"), 6).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def simhash_hamming_pairs(
    simhashed: DataFrame, max_hamming: int = 2, bits: int = 16
) -> DataFrame:
    """All document pairs whose SimHash fingerprints differ in at most
    ``max_hamming`` bits, found WITHOUT the n² scan: the print is cut
    into 4 equal slices and candidates form only through an
    equi-join on (band, slice). Pigeonhole guarantee: hamming ≤ h and
    h < 4 ⇒ at least one slice is identical, so the banded join
    misses nothing (requires max_hamming < 4; enforced).

    Exact Hamming verification runs only on candidates — NOT as
    per-character string comparisons (``bits`` interpreted substring
    evaluations per candidate dominate the query when band slices
    correlate and candidates are plentiful) but as 4 integer
    XOR + bit_count intrinsics over the band slices parsed to BIGINTs
    once per document: popcount(a XOR b) summed over slices IS the
    print's Hamming distance. The SQL oracle keeps the positionwise
    character form — same value, independent derivation.
    """
    if max_hamming >= 4:
        raise ValueError(
            f"pigeonhole guarantee needs max_hamming < 4 bands ({max_hamming} >= 4)"
        )
    width = bits // 4
    if width > 62:
        raise ValueError("band slices must fit a signed BIGINT (width <= 62)")
    # parse each band slice to an integer ONCE per document and
    # materialize: the frame feeds four plan branches (both candidate
    # join sides + both verify sides) and is signature-sized
    # (id + 4 longs), never the text
    bints = simhashed.select(
        F.col("doc_id"),
        F.array(
            *[
                F.conv(F.substring("simhash", b * width + 1, width), 2, 10)
                .cast("long")
                for b in range(4)
            ]
        ).alias("__bint"),
    ).localCheckpoint(eager=True)
    banded = bints.select(
        F.col("doc_id"), F.posexplode("__bint").alias("band", "bkey")
    )
    # chunked band self-join: an adversarial corpus (thousands of
    # IDENTICAL prints) collapses every band into one bucket — the same
    # quadratic-single-task trap as LSH, guarded the same way (output
    # unchanged, per-task work ≤ ~HAMMING_BUCKET_CAP² popcount pairs)
    # Candidates keep their per-band multiplicity here (≤ 4
    # rows per pair): deduplicating BEFORE verification paid a
    # full-width exchange + hash aggregate over the candidate volume
    # (profiled at bench scale: 438k candidate rows collapsing to 223
    # final pairs — the distinct was ~a third of the query for a 2%
    # multiplicity reduction), while the verify itself is 4
    # XOR+popcount intrinsics per row against signature-sized sides
    # (id + 4 longs — the planner broadcasts them at bench
    # scale; at corpus scale they join id-keyed either way). So:
    # verify first, then distinct over the filtered survivors —
    # output identical, the dedup exchange now moves final-pair rows
    # instead of candidate rows.
    cand = _chunked_pair_join(
        banded, ["band", "bkey"], "doc_id", HAMMING_BUCKET_CAP
    ).select("id_a", "id_b")
    sa = bints.select(F.col("doc_id").alias("id_a"), F.col("__bint").alias("__ba"))
    sb = bints.select(F.col("doc_id").alias("id_b"), F.col("__bint").alias("__bb"))
    hamming = sum(
        F.bit_count(
            F.element_at("__ba", b + 1).bitwiseXOR(F.element_at("__bb", b + 1))
        )
        for b in range(4)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def removal_spans(df: DataFrame) -> DataFrame:
    """Positional exact-substring dedup: the removal spans of
    Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    Better"), word-shingle formulation. Every word-``SHINGLE_N``-gram
    occurring at least twice in the corpus (within- OR
    cross-document — a self-repeat is just as memorized) marks its
    occurrence interval ``[pos, pos + SHINGLE_N)``; overlapping or
    adjacent marked intervals in a document coalesce into maximal
    removal spans. Returns one row per merged span:
    (id, span_start, span_end, span_words), positions in word offsets.

    This is the positional complement of the set-based operators above:
    near-dup dedup drops whole documents, while removal spans excise
    the repeated SUBSTRINGS and keep the novel remainder — the
    suffix-array pass of the paper re-expressed as three key-local
    stages. Scale: (1) shingle occurrences are a per-row posexplode
    (no shuffle past the id repartition); (2) corpus-wide occurrence
    counts are one map-side-combined groupBy on the shingle, and the
    marked positions come from the shuffle-join of occurrences against
    the repeated survivors (AQE splits hot-shingle skew; no
    window-over-shingle single-partition trap); (3) the interval merge
    is the classic gaps-and-islands window partitioned by the doc id —
    equal-length intervals sorted by start merge iff
    ``pos <= prev_pos + SHINGLE_N``, so a lag comparison + running sum
    of breaks is exact, one exchange on the id.
    """
    occ = (
        df.repartition(F.col("doc_id"))
        .select(F.col("doc_id"), words_expr().alias("__words"))
        .filter(F.size("__words") >= SHINGLE_N)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("__words") - SHINGLE_N),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__words"), i + 1, SHINGLE_N)
                    ),
                )
            ).alias("pos", "shingle"),
        )
    )
    occ = cache(occ, CORPUS_CACHE)
    dup = (
        occ.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("shingle")
    )
    marked = occ.join(dup, "shingle").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        marked.withColumn(
            "__brk",
            F.when(F.col("pos") > F.lag("pos").over(w) + SHINGLE_N, 1).otherwise(0),
        )
        .withColumn(
            "__island",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "__island")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + SHINGLE_N).cast("int").alias("span_end"),
            (F.max("pos") + SHINGLE_N - F.min("pos")).cast("int").alias(
                "span_words"
            ),
        )
        .drop("__island")
    )
