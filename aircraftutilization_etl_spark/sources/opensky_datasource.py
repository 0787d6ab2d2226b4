"""OpenSky feed as a native PySpark data source (Python Data Source API).

Reference S1 is a driver-side ``requests.get`` inside an Airflow task
(src/plugins/scripts/opensky/client.py:20-35). Spark-native realization:
a registered ``DataSource`` so the feed participates in the regular
reader machinery —

    spark.dataSource.register(OpenSkyDataSource)
    spark.read.format("opensky").option("payload_path", p).load()
    spark.readStream.format("opensky").option("payload_dir", d).load()

Modes (option-selected):
- ``payload_path`` (batch) / ``payload_dir`` (stream): read OpenSky
  /api/states/all JSON payloads from files — the deterministic fixture
  path used by tests and replay/backfill runs. The streaming reader
  consumes one file per micro-batch in filename order, tracking its
  position in the offset, so a replayed directory reproduces the exact
  micro-batch sequence (the equivalence harness relies on this).
- live mode (no option): poll the real endpoint via OpenSkyClient with
  basic auth + 5 s timeout; each micro-batch is one poll. Requires the
  ``requests`` package; import-gated like the client.

The feed snapshot is one ~10^4-row payload, so a single input partition
is the honest physical shape (the parallelism story for the pipeline is
in the downstream stateful processing, not the poll).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import StructType

from ..schemas import STATES_SCHEMA
from .rest import OpenSkyClient, state_vectors


def _load_payload_file(path: str) -> list[tuple]:
    with open(path, encoding="utf-8") as f:
        return state_vectors(json.load(f))


def _poll_live(options: dict) -> list[tuple]:
    client = OpenSkyClient(options.get("username"), options.get("password"))
    return state_vectors(client.get_states())


class OpenSkyBatchReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        path = self.options.get("payload_path")
        if path:
            return iter(_load_payload_file(path))
        return iter(_poll_live(self.options))


class OpenSkyStreamReader(SimpleDataSourceStreamReader):
    """One payload file (or one live poll) per micro-batch.

    Offset = {"index": files consumed} in fixture mode, {"polls": n} in
    live mode. SimpleDataSourceStreamReader is the right variant: the
    snapshot is tiny and driver-side; no per-partition planning needed.
    """

    def __init__(self, options: dict):
        self.options = options
        self.payload_dir = options.get("payload_dir")

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _files(self) -> list[str]:
        names = [n for n in os.listdir(self.payload_dir) if n.endswith(".json")]
        return [os.path.join(self.payload_dir, n) for n in sorted(names)]

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        index = start.get("index", 0)
        if self.payload_dir:
            files = self._files()
            if index >= len(files):
                return iter([]), start
            return iter(_load_payload_file(files[index])), {"index": index + 1}
        return iter(_poll_live(self.options)), {"index": index + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # replay for recovery: deterministic in fixture mode
        if not self.payload_dir:
            return iter([])
        files = self._files()
        rows: list[tuple] = []
        for i in range(start.get("index", 0), min(end.get("index", 0), len(files))):
            rows.extend(_load_payload_file(files[i]))
        return iter(rows)


class OpenSkyDataSource(DataSource):
    """``format("opensky")`` — the feed as a first-class reader."""

    @classmethod
    def name(cls) -> str:
        return "opensky"

    def schema(self) -> StructType:
        return STATES_SCHEMA

    def reader(self, schema: StructType) -> OpenSkyBatchReader:
        return OpenSkyBatchReader(dict(self.options))

    def simpleStreamReader(self, schema: StructType) -> OpenSkyStreamReader:
        return OpenSkyStreamReader(dict(self.options))
