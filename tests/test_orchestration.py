"""Orchestration (example Airflow DAGs).

An optional-dependency surface: the module must import and the engine
must run without airflow installed, failing only when the optional path
is actually invoked — with a typed, actionable error. Structure
(cadences, retries, task order) is pinned against the reference DAG
(src/dags/flight_utilization.py:20,33,48,64-78).
"""

from __future__ import annotations

import time
from datetime import timedelta

import pytest

from aircraftutilization_etl_spark.orchestration import (
    DAG_SPECS,
    OrchestrationConfig,
    OrchestratorUnavailable,
    active_flights_report,
    build_dags,
    complete_flights_report,
    metadata_report,
)

try:
    import airflow  # noqa: F401

    HAVE_AIRFLOW = True
except ImportError:
    HAVE_AIRFLOW = False


class TestDagSpecs:
    def test_reference_cadences_and_retries(self):
        # flight_utilization.py:64-78 — daily metadata, 5-minute adsb
        specs = {dag_id: (sched, tasks) for dag_id, sched, tasks in DAG_SPECS}
        assert specs["metadata_etl"][0] == timedelta(days=1)
        assert specs["adsb_etl"][0] == timedelta(minutes=5)
        # E4 retry policy: metadata 2/5min (:20), active 2/30s (:33),
        # complete 1/30s (:48)
        assert [(b.__name__, r, d) for b, r, d in specs["metadata_etl"][1]] == [
            ("metadata_report", 2, 300)
        ]
        assert [(b.__name__, r, d) for b, r, d in specs["adsb_etl"][1]] == [
            ("active_flights_report", 2, 30),
            ("complete_flights_report", 1, 30),
        ]

    @pytest.mark.skipif(HAVE_AIRFLOW, reason="airflow installed")
    def test_build_dags_raises_typed_error_without_airflow(self, tmp_path):
        cfg = OrchestrationConfig(
            state_root=str(tmp_path / "s"),
            facts_path=str(tmp_path / "f"),
            metadata_path=str(tmp_path / "m"),
            aircraft_csv_path=str(tmp_path / "a.csv"),
        )
        with pytest.raises(OrchestratorUnavailable, match="airflow"):
            build_dags(cfg)

    @pytest.mark.skipif(not HAVE_AIRFLOW, reason="airflow not installed")
    def test_build_dags_structure(self, tmp_path):
        cfg = OrchestrationConfig(
            state_root=str(tmp_path / "s"),
            facts_path=str(tmp_path / "f"),
            metadata_path=str(tmp_path / "m"),
            aircraft_csv_path=str(tmp_path / "a.csv"),
        )
        dags = build_dags(cfg)
        assert set(dags) == {"metadata_etl", "adsb_etl"}
        adsb = dags["adsb_etl"]
        assert len(adsb.tasks) == 2


class TestTaskBodies:
    def _state_vector(self, icao, t, vel, vr):
        return [icao, "CS", "US", t, t, 1.0, 2.0, 100.0, False,
                vel, 10.0, vr, None, 120.0, None, False, 0]

    def test_full_cycle_through_task_bodies(self, spark, tmp_path):
        """metadata -> (active >> complete) x2 lands one fact, exactly as
        the reference DAG sequence would."""
        t0 = int(time.time()) - 600
        payloads = iter(
            [
                {"time": t0, "states": [self._state_vector("a1", t0, 120.0, 8.0)]},
                {
                    "time": t0 + 300,
                    "states": [self._state_vector("a1", t0 + 300, 0.0, 0.0)],
                },
            ]
        )
        meta_csv = tmp_path / "aircraft.csv"
        meta_csv.write_text(
            "icao24,manufacturericao,model,operator,owner,registration,"
            "serialnumber,built\n"
            "a1,AIRBUS,A320,OpCo,OwnCo,N123,SN1,2015-06-01\n"
        )
        cfg = OrchestrationConfig(
            state_root=str(tmp_path / "state"),
            facts_path=str(tmp_path / "facts"),
            metadata_path=str(tmp_path / "meta"),
            aircraft_csv_path=str(meta_csv),
            fetch_states=lambda: next(payloads),
            spark_factory=lambda: spark,
        )
        metadata_report(cfg)
        for _ in range(2):
            active_flights_report(cfg)
            complete_flights_report(cfg)
        facts = spark.read.parquet(cfg.facts_path)
        rows = facts.collect()
        assert len(rows) == 1
        assert rows[0]["icao24"] == "a1" and rows[0]["model"] == "A320"
