"""Deduplication queries over the documents table (operators/dedup.py).

Each oracle replicates the Spark pipeline exactly in DuckDB SQL — possible
because the only hash primitive is md5 (identical hex both engines) and
the K seeded minhash orderings are hex rotations of one md5, expressed
with substr/concat on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    edit_distance_pairs,
    MINHASH_K,
    MINHASH_ROWS,
    doc_shingles,
    exact_duplicates,
    minhash_lsh_duplicates,
    novelty_scores,
    minhash_signatures,
    shingle_jaccard_pairs,
    with_shingle_array,
    with_simhash,
)
from ..operators.distribute import CORPUS_CACHE, cache
from ..operators.graph import connected_components_star
from .catalog import query, table

JACCARD_THRESHOLD = 0.5

# word-3-gram shingle CTE shared by the oracles (mirrors doc_shingles)
_SHINGLES_SQL = """
    shingles AS (
        SELECT DISTINCT doc_id,
               array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents) t,
             LATERAL unnest(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id)
"""


@query(
    "q_dedup_exact",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS representative,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents
    GROUP BY 1
    ORDER BY representative
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash-groupBy on the normalized-text fingerprint.

    Scale: one shuffle on a 128-bit key; group sizes are duplicate
    multiplicities (tiny), so no skew.
    """
    d = table(spark, sf_dir, "documents")
    return exact_duplicates(d)  # driver compare is order-insensitive


@query(
    "q_dedup_ngram_jaccard",
    f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
    FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common) >= {JACCARD_THRESHOLD}
    ORDER BY id_a, id_b
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (3-word shingles, J ≥ 0.5).

    Scale: pairs form only through the equi-join on the shingle — cost is
    Σ per-shingle freq², bounded by shingle selectivity, never the n²
    cross product.
    """
    d = table(spark, sf_dir, "documents")
    # no final orderBy: a global sort samples its child, re-executing
    # the pair pipeline; the driver compare is order-insensitive
    return shingle_jaccard_pairs(doc_shingles(d), JACCARD_THRESHOLD)


# Full LSH pair pipeline as a reusable CTE chain (ends in lsh_pairs) —
# shared by the pair query and the recursive cluster oracle.
_LSH_PAIRS_CTES = f"""{_SHINGLES_SQL},
    minhashes AS (
        SELECT doc_id, seed,
               MIN(substr(md5(shingle), CAST(seed * 2 + 1 AS INT), 32)
                   || substr(md5(shingle), 1, CAST(seed * 2 AS INT))) AS minhash
        FROM shingles, LATERAL unnest(range(0, {MINHASH_K})) AS s(seed)
        GROUP BY doc_id, seed
    ),
    bands AS (
        SELECT doc_id, seed // {MINHASH_ROWS} AS band,
               md5(string_agg(minhash, '|' ORDER BY minhash)) AS band_key
        FROM minhashes GROUP BY doc_id, seed // {MINHASH_ROWS}
    ),
    candidates AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT id_a, id_b, COUNT(*) AS n_common
        FROM candidates
          JOIN shingles sa2 ON sa2.doc_id = id_a
          JOIN shingles sb2 ON sb2.doc_id = id_b AND sb2.shingle = sa2.shingle
        GROUP BY id_a, id_b
    ),
    lsh_pairs AS (
        SELECT id_a, id_b,
               ROUND(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6)
                   AS jaccard
        FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_common / (sa.n_shingles + sb.n_shingles - n_common)
              >= {JACCARD_THRESHOLD}
    )"""


@query(
    "q_dedup_minhash_lsh",
    f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT id_a, id_b, jaccard FROM lsh_pairs
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4×4) near-dup pipeline with exact-Jaccard
    verification at J ≥ 0.5 — the scale path for corpus dedup.

    Scale: one md5 per shingle with 16 rotation-derived orderings;
    signatures are a fixed 16 strings/doc regardless of doc size;
    candidate generation shuffles on (band, band_key) so only
    near-identical docs ever meet; verification touches candidates only.
    """
    d = table(spark, sf_dir, "documents")
    return minhash_lsh_duplicates(d, JACCARD_THRESHOLD)


# Recursive-CTE transitive closure over the LSH pairs — the oracle of
# both duplicate-group queries.
_LSH_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM lsh_pairs
        UNION
        SELECT id_b, id_a FROM lsh_pairs
    ),
    closure(node, reach) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT c.node, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    )
    SELECT node AS doc_id, LEAST(node, MIN(reach)) AS cluster_id
    FROM closure
    GROUP BY node
    ORDER BY doc_id
    """


def _lsh_clusters(d: DataFrame) -> DataFrame:
    """(doc_id, cluster_id): star-contraction components over the LSH
    near-dup pairs, each labeled by its smallest doc id."""
    pairs = minhash_lsh_duplicates(d, JACCARD_THRESHOLD)
    return connected_components_star(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


@query("q_dedup_clusters", _LSH_CLUSTERS_SQL)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate GROUPS: connected components over the LSH near-dup
    pairs, each cluster labeled by its smallest doc id (the canonical
    document a dedup pipeline keeps). Oracle: recursive-CTE transitive
    closure over the same pairs.

    Scale: large-star/small-star contraction (connected_components_star)
    — O(log^2 n) rounds whatever the chain length, two exchanges per
    phase; the driver only ever sees two scalars per round.
    """
    return _lsh_clusters(table(spark, sf_dir, "documents")).orderBy("doc_id")


def _simhash_sql(bits: int = 16) -> str:
    n_hashes = (bits + 31) // 32
    digest = "md5(w)" + "".join(
        f" || md5('!{i}' || w)" for i in range(1, n_hashes)
    )
    hashed = (
        "list_transform(regexp_split_to_array(trim(text), '\\s+'), "
        f"w -> {digest})"
    )
    bit_exprs = ",\n           ".join(
        f"CASE WHEN list_sum(list_transform({hashed}, "
        f"h -> CASE WHEN substr(h, {p + 1}, 1) >= '8' THEN 1 ELSE -1 END)) > 0 "
        f"THEN '1' ELSE '0' END"
        for p in range(bits)
    )
    return f"""
    SELECT doc_id,
           concat({bit_exprs}) AS simhash
    FROM documents
    ORDER BY doc_id
    """


@query("q_dedup_simhash", _simhash_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprints (md5-digit votes per bit) — hamming
    proximity on these detects near-dups; identical prints are dup
    candidates.

    Scale: per-row map, no shuffle; each bit is one fold over the word
    array inside codegen.
    """
    d = table(spark, sf_dir, "documents")
    return with_simhash(d)


@query(
    "q_dedup_minhash_signatures",
    f"""
    WITH {_SHINGLES_SQL}
    SELECT doc_id, CAST(seed AS BIGINT) AS seed,
           MIN(substr(md5(shingle), CAST(seed * 2 + 1 AS INT), 32)
               || substr(md5(shingle), 1, CAST(seed * 2 AS INT))) AS minhash
    FROM shingles, LATERAL unnest(range(0, {MINHASH_K})) AS s(seed)
    GROUP BY doc_id, seed
    ORDER BY doc_id, seed
    """,
)
def q_dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw MinHash signature matrix (doc × 16 seeds) — the reusable
    sketch that LSH banding and Jaccard estimation both consume."""
    d = table(spark, sf_dir, "documents")
    return (
        minhash_signatures(with_shingle_array(d))
        .select("doc_id", F.col("seed").cast("bigint").alias("seed"), "minhash")
    )


@query(
    "q_dedup_novelty",
    f"""
    WITH {_SHINGLES_SQL},
    first_occ AS (
        SELECT shingle, MIN(doc_id) AS first_id FROM shingles GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN f.first_id = s.doc_id THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS novel_ppm
    FROM shingles s JOIN first_occ f USING (shingle)
    GROUP BY s.doc_id
    ORDER BY s.doc_id
    """,
)
def q_dedup_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-novelty audit: per document, the integer-exact fraction
    of its shingles first introduced by it (min-id first occurrence) —
    flags remix/aggregator documents that exact and pairwise dedup both
    miss.

    Scale: two linear shuffles (shingle-keyed min with map-side combine,
    then id-keyed count); nothing pairwise, no skew beyond shingle
    frequency itself.
    """
    d = table(spark, sf_dir, "documents")
    return novelty_scores(d)


@query(
    "q_dedup_keep_best",
    f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM lsh_pairs
        UNION
        SELECT id_b, id_a FROM lsh_pairs
    ),
    closure(node, reach) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT c.node, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    ),
    clusters AS (
        SELECT node AS doc_id, LEAST(node, MIN(reach)) AS cluster_id
        FROM closure GROUP BY node
    ),
    scored AS (
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               ROUND((
                   (CASE WHEN len(regexp_split_to_array(trim(text), '\\s+'))
                              >= 20 THEN 1.0
                         ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                              / 20.0 END)
                 + (CASE WHEN length(replace(trim(text), ' ', ''))
                              / greatest(len(regexp_split_to_array(
                                    trim(text), '\\s+')), 1)
                              BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END)
                 + (1.0 - least((length(text) - length(regexp_replace(
                        text, '[^A-Za-z0-9\\s]', '', 'g')))
                        / greatest(length(text), 1) * 5, 1.0))
               ) / 3, 4) AS quality_score
        FROM documents d LEFT JOIN clusters c USING (doc_id)
    )
    SELECT doc_id, cluster_id, quality_score,
           (ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY quality_score DESC, doc_id) = 1)
               AS kept
    FROM scored
    ORDER BY doc_id
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative SELECTION policy: within every near-dup cluster
    keep the highest-quality member (ties → smallest id), not the
    arbitrary smallest-id one — what a curation pipeline actually ships
    after clustering. Singletons form their own cluster and are kept.

    Output is the full corpus with its verdict (doc_id, cluster_id,
    quality_score, kept), i.e. the dedup purge list and its
    justification in one relation.

    Scale: clusters come from the LSH pipeline (banded candidates only)
    and star contraction (O(log^2 n) rounds, as q_dedup_clusters);
    quality is a per-row map; the final choice is one window over
    cluster_id — a single extra shuffle on a corpus already shuffled by
    the cluster join.
    """
    from pyspark.sql.window import Window

    from ..operators.text import quality_score_expr

    d = table(spark, sf_dir, "documents")
    clusters = _lsh_clusters(d)
    scored = (
        d.select("doc_id", quality_score_expr().alias("quality_score"))
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            "quality_score",
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("quality_score"), "doc_id"
    )
    return scored.withColumn(
        "kept", F.row_number().over(w) == 1
    )


@query(
    "q_dedup_edit_distance",
    """
    WITH titles AS (
        SELECT doc_id, lower(substring(trim(text), 1, 24)) AS title
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.title, b.title) AS INT) AS dist
    FROM titles a JOIN titles b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.title, b.title) <= 2
    ORDER BY id_a, id_b
    """,
)
def q_dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-dup pairs: document title prefixes (first 24
    chars, lowercased) within Levenshtein distance 2 — the fuzzy-match
    member of the dedup family (catches OCR noise and edit-variants
    that shingle Jaccard misses at short lengths).

    Engine side: sub-quadratic q-gram-prefiltered candidates + exact
    JVM levenshtein verification (operators/dedup.edit_distance_pairs);
    the oracle brute-forces all pairs, so a hash match proves the
    prefilter loses no true pair on this corpus.
    """
    d = table(spark, sf_dir, "documents")
    titles = d.select(
        "doc_id",
        F.lower(F.substring(F.trim(F.col("text")), 1, 24)).alias("title"),
    )
    return edit_distance_pairs(titles)


_NEW_BATCH_PRED = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f'"


@query(
    "q_dedup_incremental",
    f"""
    WITH {_LSH_PAIRS_CTES}
    SELECT id_a, id_b, jaccard
    FROM lsh_pairs p
    WHERE EXISTS (SELECT 1 FROM documents d
                  WHERE d.doc_id = p.id_a AND {_NEW_BATCH_PRED})
       OR EXISTS (SELECT 1 FROM documents d
                  WHERE d.doc_id = p.id_b AND {_NEW_BATCH_PRED})
    ORDER BY id_a, id_b
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the md5-tail slice of the corpus plays
    today's ingest batch, deduped against the rest (the staged corpus)
    and within itself — every near-dup pair touching ≥1 new document,
    WITHOUT re-pairing the historical corpus against itself. The oracle
    runs the full-corpus LSH pipeline and keeps pairs touching the
    batch, so a hash match proves the incremental plan loses nothing
    relative to a full rerun.

    Scale: batch band rows probe the corpus band table on
    (band, band_key) — cost tracks the batch and its collisions, not
    |corpus|²; with bands/shingles staged between ingests the
    historical side is scan + join only.
    """
    from ..operators.dedup import incremental_lsh_duplicates

    d = table(spark, sf_dir, "documents")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "f"
    return incremental_lsh_duplicates(
        d.filter(is_new), d.filter(~is_new), JACCARD_THRESHOLD
    )


CONTAINMENT_THRESHOLD = 0.5


@query(
    "q_dedup_containment",
    f"""
    WITH {_SHINGLES_SQL},
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    both_dirs AS (
        SELECT id_a AS id_src, id_b AS id_dst,
               ROUND(n_common / sa.n_shingles, 6) AS containment
        FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
        UNION ALL
        SELECT id_b, id_a, ROUND(n_common / sb.n_shingles, 6)
        FROM inter
          JOIN sizes sb ON sb.doc_id = id_b
    )
    SELECT id_src, id_dst, containment
    FROM both_dirs
    WHERE containment >= {CONTAINMENT_THRESHOLD}
    ORDER BY id_src, id_dst
    """,
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed shingle-containment pairs (C(src→dst) ≥ 0.5): the
    quote-inclusion detector — a short document mostly contained in a
    longer one pairs here even when Jaccard (q_dedup_ngram_jaccard)
    can't see it. Intersections are computed once per undirected pair
    and re-emitted with per-direction denominators.

    Scale: same shingle-equi-join candidate bound as the Jaccard pair
    path (Σ per-shingle freq²); the direction fan-out is exactly 2×
    the intersected pair count, never corpus-sized.
    """
    from ..operators.dedup import containment_pairs, doc_shingles

    d = table(spark, sf_dir, "documents")
    return containment_pairs(doc_shingles(d), CONTAINMENT_THRESHOLD)


MAX_HAMMING = 2
_SIM_BANDS = 4
_SIM_BITS = 64  # wide prints: 16-bit band slices -> 65536 buckets/band


def _simhash_pairs_sql() -> str:
    inner = _simhash_sql(_SIM_BITS).replace("ORDER BY doc_id", "")
    width = _SIM_BITS // _SIM_BANDS
    hamming = " + ".join(
        f"CASE WHEN substr(sa.simhash, {p + 1}, 1) <> "
        f"substr(sb.simhash, {p + 1}, 1) THEN 1 ELSE 0 END"
        for p in range(_SIM_BITS)
    )
    return f"""
    WITH sims AS ({inner}),
    banded AS (
        SELECT doc_id, CAST(b AS INT) AS band,
               substr(simhash, CAST(b * {width} + 1 AS INT), {width}) AS bkey
        FROM sims, LATERAL unnest(range(0, {_SIM_BANDS})) AS u(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST({hamming} AS INT) AS hamming
    FROM cand
      JOIN sims sa ON sa.doc_id = id_a
      JOIN sims sb ON sb.doc_id = id_b
    WHERE {hamming} <= {MAX_HAMMING}
    ORDER BY id_a, id_b
    """


@query("q_dedup_simhash_pairs", _simhash_pairs_sql())
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 2 over WIDE 64-bit prints
    (two salted md5 digests per word), via the banded pigeonhole join —
    any pair within the Hamming budget shares one of the four 16-bit
    slices, so candidates-only verification is exhaustive. Complements
    MinHash-LSH: SimHash weights every word vote, so it pairs documents
    whose edits are spread thin.

    Scale: prints are a per-row map; candidates form only through the
    (band, slice) equi-join. Band width is the scaling lever — 16-bit
    slices give 65536 buckets per band, so random collisions stay
    near-zero as the corpus grows (the 16-bit-print variant has 16
    buckets per band and goes quadratic: measured 11 s vs <1 s at
    sf0.1); exact Hamming runs on candidates alone.
    """
    from ..operators.dedup import simhash_hamming_pairs, with_simhash

    d = table(spark, sf_dir, "documents")
    return simhash_hamming_pairs(
        with_simhash(d, bits=_SIM_BITS), MAX_HAMMING, bits=_SIM_BITS
    )


@query("q_dedup_clusters_star", _LSH_CLUSTERS_SQL)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The duplicate groups of q_dedup_clusters, registered under the
    name of the kernel that computes them (large-star/small-star
    contraction, connected_components_star). Oracle: the same
    recursive closure.

    Scale: as q_dedup_clusters — two exchanges per phase, per-round
    lineage truncation, two observed scalars per round.
    """
    return q_dedup_clusters(spark, sf_dir)


@query(
    "q_dedup_minhash_estimate",
    f"""
    WITH {_LSH_PAIRS_CTES},
    agree AS (
        SELECT p.id_a, p.id_b,
               SUM(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END)
                   AS n_agree
        FROM lsh_pairs p
          JOIN minhashes ma ON ma.doc_id = p.id_a
          JOIN minhashes mb ON mb.doc_id = p.id_b AND mb.seed = ma.seed
        GROUP BY p.id_a, p.id_b
    )
    SELECT a.id_a, a.id_b, p.jaccard,
           CAST(a.n_agree * 1000000 // {MINHASH_K} AS BIGINT)
               AS estimate_ppm,
           CAST(a.n_agree * 1000000 // {MINHASH_K}
                - CAST(round(p.jaccard * 1000000) AS BIGINT) AS BIGINT)
               AS err_ppm
    FROM agree a JOIN lsh_pairs p
      ON p.id_a = a.id_a AND p.id_b = a.id_b
    ORDER BY a.id_a, a.id_b
    """,
)
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy audit for MinHash: per verified near-dup pair,
    the Jaccard ESTIMATE the 16-seed signature implies (agreement
    fraction) next to the exact Jaccard, with the signed ppm error —
    the honesty gauge that justifies the signature size, sibling to
    the ANN recall gauges.

    Scale: signatures and exact scores both already exist in the LSH
    pipeline; the audit adds two id-keyed joins against the
    (pairs x K)-sized signature slice — candidates-only, never corpus
    x corpus.
    """
    from ..operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        verify_jaccard_pairs,
        with_shingle_array,
    )

    d = table(spark, sf_dir, "documents")
    # ONE persisted shingle frame for the whole audit (r11 opt): the
    # composed form (minhash_lsh_duplicates + a second
    # with_shingle_array for the signature matrix) built the shingle
    # arrays from the raw scan twice — independent plans, so the
    # pipeline's internal cache was invisible to the signature branch
    # (profiled: the scan + shingle kernel executed 3-4x). The
    # signature matrix is persisted too: it feeds both agreement join
    # sides, and its kernel (16 rotation-MIN aggregates) is the same
    # cost the LSH pipeline pays once — (pairs x K)-sized cache.
    # Both kernel caches are corpus-scale (shingle arrays are bigger
    # than the text; the signature matrix is docs x K rows); the
    # consumer's cache scope releases them after its action.
    shingled = cache(with_shingle_array(d), CORPUS_CACHE)
    candidates = lsh_candidate_pairs(shingled)
    pairs = verify_jaccard_pairs(candidates, shingled, JACCARD_THRESHOLD)
    sigs = cache(minhash_signatures(shingled), CORPUS_CACHE)
    ma = sigs.select(
        F.col("doc_id").alias("id_a"), "seed", F.col("minhash").alias("__ma")
    )
    mb = sigs.select(
        F.col("doc_id").alias("id_b"), "seed", F.col("minhash").alias("__mb")
    )
    agree = (
        pairs.join(ma, "id_a")
        .join(mb, ["id_b", "seed"])
        .groupBy("id_a", "id_b", "jaccard")
        .agg(
            F.sum(
                F.when(F.col("__ma") == F.col("__mb"), 1).otherwise(0)
            ).alias("n_agree")
        )
    )
    return agree.select(
        "id_a",
        "id_b",
        "jaccard",
        F.expr(f"n_agree * 1000000 DIV {MINHASH_K}").alias("estimate_ppm"),
        F.expr(
            f"n_agree * 1000000 DIV {MINHASH_K} "
            "- CAST(round(jaccard * 1000000) AS BIGINT)"
        ).alias("err_ppm"),
    ).orderBy("id_a", "id_b")


@query(
    "q_dedup_substring_spans",
    """
    WITH occ AS (
        SELECT doc_id, CAST(i - 1 AS INT) AS pos,
               array_to_string(w[CAST(i AS INT):CAST(i + 2 AS INT)], ' ')
                   AS shingle
        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
              FROM documents) t,
             LATERAL unnest(range(1, len(w) - 1)) AS u(i)
        WHERE len(w) >= 3
    ),
    dup AS (SELECT shingle FROM occ GROUP BY shingle HAVING COUNT(*) >= 2),
    marked AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup USING (shingle)),
    flagged AS (
        SELECT doc_id, pos,
               CASE WHEN pos > LAG(pos) OVER (PARTITION BY doc_id
                                              ORDER BY pos) + 3
                    THEN 1 ELSE 0 END AS brk
        FROM marked),
    isl AS (
        SELECT doc_id, pos,
               SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS UNBOUNDED PRECEDING) AS island
        FROM flagged)
    SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
           CAST(MAX(pos) + 3 AS INT) AS span_end,
           CAST(MAX(pos) + 3 - MIN(pos) AS INT) AS span_words
    FROM isl GROUP BY doc_id, island
    ORDER BY doc_id, span_start
    """,
)
def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring removal spans (Lee et al. 2021): maximal word
    intervals covered by corpus-repeated 3-gram shingles, per document.

    The positional complement of whole-document dedup — excise the
    memorization-prone repeated substrings, keep the novel remainder.
    Scale: posexplode occurrences (map-side), one shingle-keyed
    count+join for the >=2 filter (AQE-skew-safe), one id-keyed
    gaps-and-islands window for the merge.
    """
    from ..operators.dedup import removal_spans

    d = table(spark, sf_dir, "documents")
    return removal_spans(d)
