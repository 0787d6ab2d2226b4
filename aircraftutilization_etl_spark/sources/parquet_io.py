"""Typed parquet IO: empty-fallback reads and versioned state commits.

Reference S4 (src/plugins/common/s3.py:88-106): a missing state file
yields a typed EMPTY DataFrame, not an error. Reference S5 (:108-117)
overwrites the same file it just read — safe in eager pandas, but
self-clobbering under Spark's lazy evaluation (SURVEY.md §4.4.1). The
StateStore therefore commits each state generation to a fresh versioned
directory and flips a manifest pointer last, giving atomic-ish
read-own-output cycles plus time-travel for free.

Paths are generic Hadoop-FS paths: local in tests, ``s3a://`` in
production (credentials are Hadoop S3A config, not engine code —
reference S8 is boto3 session wiring we deliberately do not port).
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import empty_df, require_columns


def hadoop_fs(spark: SparkSession, path: str):
    """``(fs, jvm_path)``: the Hadoop FileSystem serving ``path`` and the
    JVM ``Path`` for it — file:// and s3a:// alike. The one entry point
    engine code uses into the Hadoop FS API."""
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(path)  # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
    return jvm_path.getFileSystem(conf), jvm_path


def read_parquet_or_empty(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """S4 — schema'd parquet scan; missing path → typed empty frame.

    Always passes the explicit schema so the scan never infers and the
    empty case is shape-identical (reference s3.py:98-101,
    opensky/transformers.py:62-63).
    """
    fs, jvm_path = hadoop_fs(spark, path)
    if not fs.exists(jvm_path):
        return empty_df(spark, schema)
    return spark.read.schema(schema).parquet(path)


def read_parquet_evolved(
    spark: SparkSession, path: str, target: StructType
) -> DataFrame:
    """Schema-evolution-tolerant scan: parquet written across schema
    generations (columns ADDED or RETIRED over time) reads back as ONE
    frame in the target schema — the long-lived-sink reality the
    strict reader above can't serve, because passing an explicit
    schema makes old files silently yield nulls for absent columns
    with no way to also drop retired ones.

    Mechanics: scan with mergeSchema (footer-union of all file
    schemas), then project to ``target`` — columns absent from every
    file materialize as typed nulls, present columns CAST to the
    target type (so the TARGET may widen uniformly, e.g. int files
    read as a bigint column), and retired columns drop. Files must
    agree on a stored column's physical type — parquet schema merge
    rejects per-file type drift (int here, bigint there), which is a
    WRITER bug this reader deliberately surfaces rather than papers
    over. Missing path → typed empty frame, same as
    read_parquet_or_empty.

    Scale note: mergeSchema reads file FOOTERS, not data; column
    pruning and predicate pushdown still reach the scan because the
    projection is a plain select over the merged relation.
    """
    fs, jvm_path = hadoop_fs(spark, path)
    if not fs.exists(jvm_path):
        return empty_df(spark, target)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    have = {f.name for f in merged.schema.fields}
    cols = [
        (
            F.col(f.name).cast(f.dataType)
            if f.name in have
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in target.fields
    ]
    return merged.select(*cols)


class StateStore:
    """Versioned keyed-state parquet store with manifest-swap commits.

    Layout::

        <root>/_MANIFEST.json          -> {"version": "<dirname>"}
        <root>/v_<uuid>/part-*.parquet

    ``read`` resolves the manifest; ``commit`` writes a brand-new
    directory then atomically rewrites the manifest. The previous
    generation stays readable throughout, fixing the reference's
    read-then-overwrite hazard (SURVEY.md §4.4.1) and its non-atomic
    two-output commit: pipeline.py stages the fact append first and
    commits state last.
    """

    MANIFEST = "_MANIFEST.json"

    def __init__(self, spark: SparkSession, root: str, schema: StructType) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.schema = schema

    def _read_manifest(self) -> str | None:
        fs, mpath = hadoop_fs(self.spark, f"{self.root}/{self.MANIFEST}")
        if not fs.exists(mpath):
            return None
        stream = fs.open(mpath)
        try:
            data = bytes(
                self.spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)  # noqa: SLF001
            )
        finally:
            stream.close()
        return json.loads(data.decode("utf-8"))["version"]

    def _write_manifest(self, version: str) -> None:
        fs, mpath = hadoop_fs(self.spark, f"{self.root}/{self.MANIFEST}")
        tmp = f"{self.root}/{self.MANIFEST}.tmp-{uuid.uuid4().hex}"
        _, tpath = hadoop_fs(self.spark, tmp)
        out = fs.create(tpath, True)
        try:
            out.write(json.dumps({"version": version}).encode("utf-8"))
        finally:
            out.close()
        # Atomic replace via FileContext.rename(OVERWRITE) on local/HDFS —
        # no window where the root has no manifest. Filesystems without an
        # AbstractFileSystem binding (some object stores) fall back to
        # delete+rename; read() covers that window by resolving the newest
        # generation when the manifest is missing but v_* dirs exist.
        jvm = self.spark._jvm  # noqa: SLF001
        try:
            gw = self.spark.sparkContext._gateway  # noqa: SLF001
            opts = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
            opts[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                mpath.toUri(), self.spark._jsc.hadoopConfiguration()  # noqa: SLF001
            )
            fc.rename(tpath, mpath, opts)
        except Exception:  # pragma: no cover - object-store fallback
            fs.delete(mpath, False)
            fs.rename(tpath, mpath)

    def _generations(self) -> list[tuple[int, str]]:
        """``(mtime, name)`` of every ``v_*`` generation under the root."""
        fs, rpath = hadoop_fs(self.spark, self.root)
        if not fs.exists(rpath):
            return []
        out = []
        for status in fs.listStatus(rpath):
            name = status.getPath().getName()
            if name.startswith("v_"):
                out.append((status.getModificationTime(), name))
        return out

    def _read_generation(self, version: str) -> DataFrame:
        df = self.spark.read.schema(self.schema).parquet(f"{self.root}/{version}")
        return require_columns(df, [f.name for f in self.schema.fields])

    # -- public API -----------------------------------------------------
    def read(self) -> DataFrame:
        """Current state generation, or a typed empty frame if none.

        A missing manifest with existing ``v_*`` generations is a crash
        artifact (manifest swap interrupted on a non-atomic filesystem),
        NOT an empty store — silently returning empty state here would
        restart every in-flight session. Recover by resolving the newest
        generation by mtime: that is the generation the interrupted
        commit was publishing.
        """
        version = self.current_version()
        if version is None:
            return empty_df(self.spark, self.schema)
        return self._read_generation(version)

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a specific retained state generation.

        Any version still listed by :meth:`versions` (i.e. not yet
        vacuumed) is readable — committed generations are immutable, so
        this is a consistent snapshot of the keyed state as of that
        commit. The debugging/backfill read every versioned store owes
        its operators: replay a past cycle's input exactly, diff two
        generations (operators/warehouse.snapshot_diff), or re-derive a
        sink batch id.
        """
        retained = self.versions()
        if version not in retained:
            raise ValueError(
                f"unknown or vacuumed state generation {version!r}; "
                f"retained: {retained}"
            )
        return self._read_generation(version)

    def current_version(self) -> str | None:
        """Resolved current generation (manifest, else crash-recovery
        newest) — also the deterministic batch id for downstream sinks:
        a replay against the same generation re-derives the same id."""
        version = self._read_manifest()
        if version is None:
            version = max(self._generations(), default=(0, None))[1]
        return version

    def commit(self, df: DataFrame) -> str:
        """Write ``df`` as the next generation and flip the manifest."""
        version = f"v_{uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(f"{self.root}/{version}")
        self._write_manifest(version)
        return version

    def versions(self) -> list[str]:
        return sorted(name for _, name in self._generations())

    def vacuum(self, keep: int = 2) -> None:
        """Drop all but the newest ``keep`` generations (by mtime). The
        current generation always survives — including the
        crash-recovered one a root without a manifest resolves to."""
        current = self.current_version()
        stale = sorted(
            (g for g in self._generations() if g[1] != current), reverse=True
        )
        for _, name in stale[max(keep - 1, 0):]:
            fs, vpath = hadoop_fs(self.spark, f"{self.root}/{name}")
            fs.delete(vpath, True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict[str, int]:
    """Compact a parquet directory's small files toward
    ``target_file_bytes`` per file; returns {files_before, files_after,
    bytes}.

    THE steady-state maintenance job of any high-cadence sink: a
    5-minute append cadence writes ~288 small files/day/partition, and
    at 100 TB the scan's task count (and the namenode/listing load)
    grows with file count, not data size. Compaction rewrites the
    directory as ceil(bytes / target) files via a round-robin
    repartition and swaps it in with a rename pair. The swap is NOT
    atomic: between staging the original aside and publishing the
    compacted layout there is a brief window with nothing at ``path``
    (concurrent readers can see FileNotFound). A crash inside that
    window leaves the data intact under ``<path>__precompact``; the
    next invocation detects the leftover and restores it before
    compacting, so the job is safe to re-run after any crash. For a
    window-free swap, run it against object stores / HDFS from the
    orchestrator's housekeeping slot while no reader is scheduled —
    the same slot as ``retention_purge``.
    """
    fs, jvm_path = hadoop_fs(spark, path)
    tmp = f"{path.rstrip('/')}__compacting"
    old = f"{path.rstrip('/')}__precompact"
    _, tmp_path = hadoop_fs(spark, tmp)
    _, old_path = hadoop_fs(spark, old)
    # crash recovery: a prior run may have died mid-swap. Three cases:
    #  - __precompact exists and path is missing → died between the two
    #    renames: restore the original.
    #  - __precompact and path both exist → died after publish but
    #    before cleanup: the published layout is live, drop the stale
    #    staging copy (it would make our own stage-aside rename fail).
    #  - __compacting leftover → incomplete write, always safe to drop.
    if fs.exists(old_path):
        if not fs.exists(jvm_path):
            if not fs.rename(old_path, jvm_path):
                raise IOError(f"compaction: could not restore {old} to {path}")
        else:
            fs.delete(old_path, True)
    if fs.exists(tmp_path):
        fs.delete(tmp_path, True)
    statuses = _parquet_files(fs, jvm_path)
    files_before = len(statuses)
    total_bytes = sum(s.getLen() for s in statuses)
    n_out = max(1, -(-total_bytes // max(1, target_file_bytes)))
    if files_before <= n_out:
        return {
            "files_before": files_before,
            "files_after": files_before,
            "bytes": total_bytes,
        }
    df = spark.read.parquet(path)
    df.repartition(int(n_out)).write.mode("overwrite").parquet(tmp)
    if not fs.rename(jvm_path, old_path):
        raise IOError(f"compaction: could not stage {path} aside")
    if not fs.rename(tmp_path, jvm_path):
        # roll back: restore the original directory
        fs.rename(old_path, jvm_path)
        raise IOError(f"compaction: could not publish {tmp}")
    fs.delete(old_path, True)
    return {
        "files_before": files_before,
        "files_after": len(_parquet_files(fs, jvm_path)),
        "bytes": total_bytes,
    }


def _parquet_files(fs, jvm_path) -> list:
    return [
        s
        for s in fs.listStatus(jvm_path)
        if s.isFile() and s.getPath().getName().endswith(".parquet")
    ]
