"""Scale patterns: salted skew joins and Bloom-filter join pruning.

These are two levers SURVEY.md §4.3 and the 100 TB design brief call
out beyond what AQE gives for free:

- **Salting** defeats hot-key skew that AQE's skew-join splitting can't
  fully fix (a single key's rows must still meet a single copy of the
  build row per split). The salted join spreads each hot key over
  8 salt sub-keys and replicates the small side once per salt —
  result-identical to the plain join, verified by oracle.
- **Bloom pruning** cuts a huge probe side before its shuffle with a
  few-KB bit array over the selective build side's keys; the exact
  join afterwards removes the false positives.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(skewed: DataFrame, small: DataFrame, on: str) -> DataFrame:
    """Inner equi-join with the skewed side's hot keys spread over 8
    salt sub-keys.

    The skewed side gets a deterministic content-derived salt; the small
    side is replicated once per salt value (explode of a literal range —
    8× a small table, still broadcastable). Joining on (key, salt)
    splits every hot key's rows across 8 tasks. Each skewed row meets
    exactly one replica of its matching small row, so the result is the
    plain inner join's.
    """
    salt = F.pmod(F.xxhash64(*skewed.columns), F.lit(8)).cast("int")
    left = skewed.withColumn("__salt", salt)
    right = small.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(7)).cast("array<int>")),
    )
    return left.join(right, on=[on, "__salt"]).drop("__salt")


# --- Bloom-filter join pruning -------------------------------------------

def bloom_filter_words(
    keys: DataFrame, key_col: str, m_bits: int, k_hashes: int
) -> list[int]:
    """Build a Bloom filter over a key column; returns the bit array as
    ``m_bits/64`` longs.

    The runtime-filter primitive for joins where the probe side is huge
    and the build side is selective but too large to broadcast as a
    hash relation: a few-KB bit array summarizes millions of keys, cuts
    the probe side BEFORE its shuffle, and the exact join afterwards
    removes the false positives — result-identical to the plain join,
    cheaper by (1 - selectivity·(1+fpp)) of the probe shuffle volume.

    Scale shape: bit positions are k xxhash64 draws per key, OR-folded
    into 64-bit words by a (word_index) groupBy — map-side partial
    bit_or does nearly all the work, the shuffle carries at most
    ``m_bits/64`` rows, and the driver holds the model-sized array
    (128 KB at 2^20 bits), exactly like a broadcast-build would.
    """
    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    pos = F.explode(
        F.array(
            *[
                F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
                for i in range(k_hashes)
            ]
        )
    ).alias("pos")
    words = (
        keys.select(pos)
        .select(
            (F.col("pos") / 64).cast("long").alias("word"),
            # F.shiftleft needs a Python-int shift; the SQL form takes a
            # column expression
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["word"]] = r["bits"]
    return arr


def bloom_might_contain(
    words: list[int], key_col: str, m_bits: int, k_hashes: int
):
    """Membership-test Column against a built filter — k AND-ed bit
    probes into a single array LITERAL (one plan node, not 2^14), all
    JVM expressions, evaluated map-side before any shuffle.

    The literal is ONE parsed expression: ``F.lit(list)`` builds the
    array element-by-element over py4j (~1 ms per element — ~1.4 s of
    pure driver time for the 2^17-bit/2048-word filter, measured r11;
    guide §5), where a single ``F.expr`` string parse is ~10 ms
    JVM-side for the identical folded literal."""
    arr = F.expr(
        "array(" + ",".join(f"{int(w)}L" for w in words) + ")"
    )
    tests = []
    for i in range(k_hashes):
        pos = F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(m_bits))
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        shift = (pos % 64).cast("int")
        # column-shift form of shiftright (the F.* wrapper requires a
        # Python int); ">> shift & 1" probes the key's bit in its word
        tests.append(
            F.call_function("shiftright", word, shift).bitwiseAND(F.lit(1))
            == 1
        )
    out = tests[0]
    for t in tests[1:]:
        out = out & t
    return out


def bloom_prune_join(probe: DataFrame, build: DataFrame, on: str) -> DataFrame:
    """Inner equi-join with the probe side Bloom-pruned before its
    shuffle.

    Two passes over the build side's key column (distinct + filter
    build), then the pruned exact join. The pruned probe rows could
    never contribute a match, so the result is the plain inner join's.
    """
    m_bits, k_hashes = 1 << 17, 5
    words = bloom_filter_words(build.select(on), on, m_bits, k_hashes)
    pruned = probe.filter(bloom_might_contain(words, on, m_bits, k_hashes))
    return pruned.join(build, on=on)
