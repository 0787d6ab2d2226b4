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
        df = self.spark.read.schema(self.schema).parquet(f"{self.root}/{version}")
        return require_columns(df, [f.name for f in self.schema.fields])

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
