"""Replay-idempotent streaming rollup sink.

The production problem: a streaming aggregation that must survive a
crash between a micro-batch's sink write and its checkpoint commit.
On restart Structured Streaming REPLAYS that batch — a sink that merges
increments in place double-counts the replay (the reference's
append-only Mongo sink has the same hazard on its fact path; cf.
src/plugins/scripts/complete_flights/db.py:63-79 which relies on
append+dedupe).

Design here: make the WRITE idempotent instead of trying to dedupe the
merge. ``foreachBatch`` reduces each micro-batch to a mergeable partial
rollup (operators/warehouse.partial_rollup) and OVERWRITES it into an
epoch-keyed directory ``<path>/epoch=<batch_id>``. Replaying batch N
rewrites epoch=N with identical content — a no-op by construction, no
high-water-mark bookkeeping, no read-modify-write race. Readers merge
the partials on scan (merge_rollups: cost = groups touched, not rows);
``compact_rollup`` periodically folds old epochs into a base epoch so
the partial count stays bounded (same generational idea as the state
store in sources/parquet_io.py).

At 100 TB scale each epoch partial is |groups-touched-per-batch| rows —
micro-batch-sized, not corpus-sized; the read-side merge is one
map-side-combinable aggregate over |epochs| x |groups| rows.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..operators.warehouse import merge_rollups, partial_rollup
from ..sources.parquet_io import hadoop_fs

BASE_EPOCH = -1  # compacted base partial


@dataclass
class RollupSpec:
    """Shape of the maintained rollup (mirrors partial_rollup args)."""

    keys: Sequence[str]
    sums: Sequence[str] = field(default_factory=tuple)
    mins: Sequence[str] = field(default_factory=tuple)
    maxs: Sequence[str] = field(default_factory=tuple)
    count_col: str = "n_rows"


def write_epoch_partial(
    batch: DataFrame, epoch_id: int, path: str, spec: RollupSpec
) -> None:
    """The foreachBatch body: reduce the micro-batch to its partial
    rollup and overwrite it at epoch=<id>. Idempotent under replay —
    same batch, same epoch, same bytes."""
    partial = partial_rollup(
        batch, spec.keys, spec.sums, spec.mins, spec.maxs, spec.count_col
    )
    partial.write.mode("overwrite").parquet(f"{path}/epoch={epoch_id}")


def start_rollup_sink(
    stream: DataFrame, path: str, checkpoint: str, spec: RollupSpec
):
    """Attach the epoch-partial sink to a streaming DataFrame."""
    return (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda batch, epoch_id: write_epoch_partial(
                batch, epoch_id, path, spec
            )
        )
        .start()
    )


def read_rollup(spark: SparkSession, path: str, spec: RollupSpec) -> DataFrame:
    """Consistent rollup = merge of every epoch partial (including the
    compacted base). basePath keeps the epoch partition column out of
    the data schema."""
    partials = spark.read.option("basePath", path).parquet(f"{path}/epoch=*")
    return merge_rollups(
        [partials.drop("epoch")],
        spec.keys,
        spec.sums,
        spec.mins,
        spec.maxs,
        spec.count_col,
    )


def compact_rollup(spark: SparkSession, path: str, spec: RollupSpec) -> int:
    """Fold all current epochs into the base epoch, bounding the
    partial count. Crash-safe ordering: the merged base is staged,
    published, and only then are the folded epochs removed — a crash
    between publish and removal leaves duplicates of ALREADY-MERGED
    partials, which the NEXT compaction folds again; readers in that
    window double-count, so run compaction from the single writer the
    sink already implies (same single-writer contract as the state
    store's generation swap). Returns the number of epochs folded.
    """
    fs, jvm_path = hadoop_fs(spark, path)
    if not fs.exists(jvm_path):
        return 0
    epochs = []
    for status in fs.listStatus(jvm_path):
        name = status.getPath().getName()
        if name.startswith("epoch=") and not name.endswith("__staged"):
            epochs.append(int(name.split("=", 1)[1]))
    live = [e for e in epochs if e != BASE_EPOCH]
    if not live:
        return 0
    merged = read_rollup(spark, path, spec)
    staged = f"{path}/epoch={BASE_EPOCH}__staged"
    merged.write.mode("overwrite").parquet(staged)
    _, base = hadoop_fs(spark, f"{path}/epoch={BASE_EPOCH}")
    if fs.exists(base):
        fs.delete(base, True)
    fs.rename(hadoop_fs(spark, staged)[1], base)
    for e in live:
        if e <= BASE_EPOCH - 1:
            # an erasure epoch: its id must stay on the applied ledger
            # even though the directory is about to fold away
            marker = _erasure_marker(path, BASE_EPOCH - 1 - e)
            fs.mkdirs(hadoop_fs(spark, marker)[1])
        fs.delete(hadoop_fs(spark, f"{path}/epoch={e}")[1], True)
    return len(live)


ERASURE_EPOCH_BASE = -2  # erasure partials live at epoch = -2 - erasure_id
_ERASURE_LEDGER = "__erasures"  # applied-id markers, outside the epoch glob


def _erasure_marker(path: str, erasure_id: int) -> str:
    return f"{path}/{_ERASURE_LEDGER}/{erasure_id}"


def apply_erasure(
    erased_rows: DataFrame, erasure_id: int, path: str, spec: RollupSpec
) -> None:
    """Apply a right-to-be-forgotten batch to the maintained rollup by
    writing the erased rows' NEGATED partial as its own epoch — the
    streaming-sink realization of q_privacy_erasure's decrement
    semantics: the standing 100 TB artifact is never rescanned, the
    deletion costs |erased rows| aggregated map-side, and the read-side
    merge nets the contribution out exactly.

    Retraction is only sound for subtractable measures, so specs with
    mins/maxs are REJECTED (an erased row that held the min would leave
    a stale bound — recompute or keep a heap-per-group sketch for
    those). Idempotence has TWO layers: pre-compaction, replaying an
    erasure id overwrites its epoch directory (epoch = -2 - erasure_id)
    with identical bytes; post-compaction the epoch directory is gone,
    so a ledger marker (``__erasures/<id>``, outside the epoch glob)
    records the applied id forever — a replayed deletion request
    short-circuits on the marker instead of decrementing twice.
    Compaction stamps the marker for any erasure epoch it folds before
    deleting it, closing the crash window between an epoch write and
    its marker write. After compaction the erased users are
    unrecoverable from the sink — the property a deletion request
    actually demands.
    """
    if spec.mins or spec.maxs:
        raise ValueError(
            "erasure requires subtractable measures only (sums/count); "
            f"spec has mins={list(spec.mins)} maxs={list(spec.maxs)}"
        )
    if erasure_id < 0:
        raise ValueError("erasure_id must be >= 0")
    from pyspark.sql import functions as F

    fs, marker = hadoop_fs(
        erased_rows.sparkSession, _erasure_marker(path, erasure_id)
    )
    if fs.exists(marker):
        return  # already applied (possibly folded into the base)
    partial = partial_rollup(
        erased_rows, spec.keys, spec.sums, (), (), spec.count_col
    )
    negated = partial.select(
        *spec.keys,
        (-F.col(spec.count_col)).alias(spec.count_col),
        *[(-F.col(f"sum_{c}")).alias(f"sum_{c}") for c in spec.sums],
    )
    negated.write.mode("overwrite").parquet(
        f"{path}/epoch={ERASURE_EPOCH_BASE - erasure_id}"
    )
    fs.mkdirs(marker)


def read_rollup_live(
    spark: SparkSession, path: str, spec: RollupSpec
) -> DataFrame:
    """read_rollup minus fully-erased groups (net count 0) — what a
    serving reader should see after erasures."""
    from pyspark.sql import functions as F

    return read_rollup(spark, path, spec).filter(F.col(spec.count_col) > 0)
