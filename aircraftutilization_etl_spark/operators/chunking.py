"""Content-defined chunking (CDC) of documents.

Fixed-size chunking breaks identical content into different chunks the
moment one byte shifts; CONTENT-DEFINED boundaries (cut where a rolling
hash of the trailing window hits a target pattern) re-align after
insertions, which is what makes chunk-level dedup of near-identical
documents work (the rsync/LBFS/FastCDC family). Semantics here:

- boundary candidate at position ``i`` (1-based, ``i >= W``) iff the
  md5 of the trailing ``W``-char window starts with a hex digit in
  {0, 1} (P = 1/8);
- a chunk must span at least ``MIN_CHUNK`` chars and at most
  ``MAX_CHUNK`` — the first candidate past the minimum cuts, else the
  maximum forces a cut (classic min/max-bounded CDC).

The min/max suppression makes chunking inherently SEQUENTIAL per
document — a boundary's validity depends on where the previous cut
landed — so no window/explode formulation exists: this is exactly the
"custom operator Spark lacks" case for an Arrow-batched ``mapInPandas``
kernel (per-doc linear pass, embarrassingly parallel across documents,
zero shuffles). The md5-of-window flag function stands in for a
gear/Rabin rolling hash so the DuckDB oracle can replay every boundary
decision bit-for-bit (recursive CTE, one step per chunk); a production
deployment would swap in an O(1)/byte gear hash behind the same
min/max scaffold.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

WINDOW = 8
MIN_CHUNK = 16
MAX_CHUNK = 64
_BOUNDARY_HEX = ("0", "1")  # first md5 hex digit => P = 1/8 per position


# gear-hash constants: Knuth multiplicative per-byte gear values, a
# 48-bit running hash (fits signed 64-bit in every engine), cut when the
# low 5 bits are zero (P = 1/32)
GEAR_MULT = 2654435761
GEAR_MASK = (1 << 48) - 1
GEAR_CUT_MASK = 31


def _boundary_flags(text: str) -> set[int]:
    """Positions i (1-based, i >= WINDOW) whose trailing WINDOW-char
    md5 starts with a boundary digit."""
    flags = set()
    for i in range(WINDOW, len(text) + 1):
        window = text[i - WINDOW : i]
        if hashlib.md5(window.encode()).hexdigest()[0] in _BOUNDARY_HEX:
            flags.add(i)
    return flags


def _gear_flags(text: str) -> set[int]:
    """Positions whose 48-bit gear rolling hash has its low 5 bits zero.

    h_i = ((h_{i-1} << 1) + (ord(c_i) · GEAR_MULT) mod 2^32) mod 2^48 —
    O(1) per byte with no per-window digest, the production CDC hash
    (FastCDC-style); old bytes age out of the hash as their bits shift
    past bit 47. Pure integer recurrence, so a SQL oracle can replay it.
    """
    flags = set()
    h = 0
    for i, ch in enumerate(text, start=1):
        h = ((h << 1) + (ord(ch) * GEAR_MULT) % (1 << 32)) & GEAR_MASK
        if (h & GEAR_CUT_MASK) == 0:
            flags.add(i)
    return flags


_FLAG_FNS = {"md5": _boundary_flags, "gear": _gear_flags}


def _cut_spans(flags: set[int], n: int) -> list[tuple[int, int]]:
    """Min/max-bounded cut scaffold shared by every flag function."""
    spans: list[tuple[int, int]] = []
    s = 1
    while s <= n:
        lo, hi = s + MIN_CHUNK - 1, s + MAX_CHUNK - 1
        end = next((i for i in range(lo, min(hi, n) + 1) if i in flags), None)
        if end is None:
            end = min(hi, n)
        spans.append((s, end))
        s = end + 1
    return spans


def chunk_spans(text: str, method: str = "md5") -> list[tuple[int, int]]:
    """[(start, end)] 1-based inclusive chunk spans of one document."""
    return _cut_spans(_FLAG_FNS[method](text), len(text))


def chunk_documents(df: DataFrame, method: str = "md5") -> DataFrame:
    """One row per chunk: (id, chunk_idx, start, length, chunk_md5).

    Scale: partition-local mapInPandas — the corpus streams through in
    Arrow batches, each document is chunked independently in one linear
    pass, and nothing shuffles; output size is input size + per-chunk
    metadata. ``chunk_md5`` fingerprints the chunk content for
    chunk-level dedup joins downstream. ``method``: "md5" (per-window
    digest — simple) or "gear" (rolling 48-bit gear hash — O(1)/byte,
    the production-scale flag function; both are integer/digest
    recurrences a SQL oracle replays exactly).
    """
    schema = "doc_id long, chunk_idx int, start int, length int, chunk_md5 string"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, starts, lens, md5s = [], [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                for k, (s, e) in enumerate(chunk_spans(text, method)):
                    ids.append(doc_id)
                    idxs.append(k)
                    starts.append(s)
                    lens.append(e - s + 1)
                    md5s.append(
                        hashlib.md5(text[s - 1 : e].encode()).hexdigest()
                    )
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "chunk_idx": pd.Series(idxs, dtype="int32"),
                    "start": pd.Series(starts, dtype="int32"),
                    "length": pd.Series(lens, dtype="int32"),
                    "chunk_md5": pd.Series(md5s, dtype="object"),
                }
            )

    return df.select("doc_id", "text").mapInPandas(kernel, schema)
