"""Batch-incremental pipeline drivers — the reference DAG tasks as engine runs.

Reference lifecycle (SURVEY.md §3): `metadata_etl` daily refreshes the
aircraft dimension; `adsb_etl` every 5 minutes runs
``active_flights_report >> complete_flights_report``
(src/dags/flight_utilization.py:64-78). Orchestration (schedules, retries
E4) stays with the orchestrator; these drivers are the idempotent task
bodies.

Commit ordering fixes the reference's non-atomic two-output write
(SURVEY.md §4.4.1): the reference overwrites state then appends facts,
double-emitting flights if a retry lands between the two. Here facts are
appended FIRST and the state manifest flips LAST, so a crash before the
state commit re-runs against the old state generation, and the sink's
keyed anti-join guard (``append_facts`` dedupe on (icao24, landed_at)
within the touched date partitions) drops the replayed rows — an
exactly-once cycle, crash-injection-tested in
tests/test_pipeline.py::test_crash_between_facts_and_state.
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.flight import classify_and_split, merge_states, project_metadata
from .schemas import METADATA_SCHEMA, SOURCE_SCHEMA
from .sources.parquet_io import StateStore, read_parquet_or_empty
from .sources.rest import read_aircraft_database_csv, states_response_to_df
from .sources.sinks import append_facts

logger = logging.getLogger(__name__)

# retained state generations: enough to debug/time-travel recent cycles
# while bounding storage under the 5-minute cadence
KEEP_GENERATIONS = 5


class FlightPipeline:
    """One engine instance = one state root + one facts path."""

    def __init__(
        self,
        spark: SparkSession,
        state_root: str,
        facts_path: str,
        metadata_path: str,
    ) -> None:
        self.spark = spark
        self.state = StateStore(spark, state_root, SOURCE_SCHEMA)
        self.facts_path = facts_path
        self.metadata_path = metadata_path
        # per-cycle row counts from the last run_complete_flights, filled
        # by Observation metrics riding the write actions (no count jobs)
        self.last_metrics: dict[str, int] = {}

    def run_metadata_etl(self, raw_csv_path: str) -> None:
        """EP3 — daily dimension refresh (reference MetadataETL.etl)."""
        raw = read_aircraft_database_csv(self.spark, raw_csv_path)
        metadata = project_metadata(raw)
        metadata.write.mode("overwrite").parquet(self.metadata_path)

    def run_active_flights(self, states_payload: dict, now_epoch: int | None = None):
        """EP1 — merge the live snapshot into session state.

        Reference ActiveFlightsETL.etl (opensky/transformers.py:148-151).
        """
        states = states_response_to_df(self.spark, states_payload)
        prior = self.state.read()
        merged = merge_states(states, prior, now_epoch=now_epoch)
        version = self.state.commit(merged)
        self.state.vacuum(keep=KEEP_GENERATIONS)
        return version

    def run_complete_flights(self) -> bool:
        """EP2 — classify state, emit completed flights, roll state forward.

        Reference CompleteFlightsETL.etl
        (complete_flights/transformers.py:180-187). The classified frame
        fans out to two outputs, each written by one action: the fact
        append (which evaluates its batch once, see ``append_facts``)
        and the state commit. Nothing is cached here — each branch
        feeds exactly one action.

        Cycle metrics (completed/active row counts) ride the write
        actions via ``Observation`` — accumulator-backed, so no extra
        count jobs — and land in :attr:`last_metrics` for the
        orchestrator's heartbeat.
        """
        from pyspark.sql import Observation

        source_version = self.state.current_version()
        source = self.state.read()
        if source.isEmpty():
            logger.warning("Empty source report")
            return False
        metadata = read_parquet_or_empty(
            self.spark, self.metadata_path, METADATA_SCHEMA
        )
        flights = classify_and_split(source, metadata)
        obs_complete = Observation("complete_rows")
        obs_active = Observation("active_rows")
        complete = flights.complete.observe(
            obs_complete, F.count(F.lit(1)).alias("n")
        )
        active = flights.active.observe(
            obs_active, F.count(F.lit(1)).alias("n")
        )
        # facts first, state last (see module docstring); the batch id
        # is the SOURCE generation, so a crash-replay of this cycle
        # re-derives the same id and the sink guard holds
        append_facts(
            complete,
            self.facts_path,
            batch_id=source_version or "genesis",
        )
        self.state.commit(active)
        self.state.vacuum(keep=KEEP_GENERATIONS)
        self.last_metrics = {
            "n_complete": obs_complete.get["n"],
            "n_active": obs_active.get["n"],
        }
        return True
