"""The benchmark's own tests: ``python3 -m pytest perfbench -q`` from the
repository root. The two flight tests start a Spark JVM each and take
about a minute apiece."""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import fleet as feed  # noqa: E402
import run  # noqa: E402
import star  # noqa: E402
import workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


# -- inputs ----------------------------------------------------------------


def _feed_bytes(seed: int, tmp) -> list[bytes]:
    snaps = feed.snapshots(seed, 200, feed.start_epoch(seed, 3), 6)
    files = feed.late_delivery(seed, snaps, 0.05)
    out = []
    for i, vectors in enumerate(files):
        path = os.path.join(tmp, f"{seed}-{i}.json")
        feed.publish(path, feed.payload(snaps[min(i, 5)][0], vectors))
        with open(path, "rb") as fh:
            out.append(fh.read())
    csv = os.path.join(tmp, f"{seed}.csv")
    feed.write_csv(csv, feed.dimension(seed, [v[0] for v in snaps[0][1]], 1000))
    with open(csv, "rb") as fh:
        out.append(fh.read())
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    assert _feed_bytes(5, str(a)) == _feed_bytes(5, str(b))
    assert _feed_bytes(5, str(a)) != _feed_bytes(6, str(a))
    star.write(5, 0.001, str(a / "star"))
    star.write(5, 0.001, str(b / "star"))
    names = sorted(os.listdir(a / "star"))
    assert len(names) == 10
    _, mismatch, errors = filecmp.cmpfiles(a / "star", b / "star", names, shallow=False)
    assert mismatch == [] and errors == []


def test_feed_has_the_shapes_the_pipeline_must_survive():
    snaps = feed.snapshots(3, 2000, feed.start_epoch(3, 4), 12)
    vectors = [v for _, vs in snaps for v in vs]
    assert all(len(v) == feed.N_VECTOR for v in vectors)
    assert any(v[4] == 0 and v[11] is None for v in vectors)  # sentinels
    assert any(v[9] is None for v in vectors)  # null velocity
    seen = [{v[0] for v in vs} for _, vs in snaps]
    assert any(len(s) < 2000 for s in seen)  # absent cycles
    times = [t for t, _ in snaps]
    assert len({t // 86_400 for t in times}) == 2  # crosses UTC midnight
    dim = feed.dimension_index(
        feed.dimension(3, [feed.icao24_of(i) for i in range(2000)], 5000),
        [feed.icao24_of(i) for i in range(2000)],
    )
    assert 1700 < len(dim) < 1900  # about 10% missing from the dimension
    flights = feed.expected_facts(snaps, dim)
    assert flights and all(r[1] > 0 for r in flights)
    # last_contact trails the poll, so durations are not whole minutes
    assert len({(v[4] - times[0]) % 60 for v in vectors if v[4]}) > 1
    # no key returns exactly four cycles after its last timestamp, the
    # one gap where the batch TTL and the stream TTL disagree
    last: dict[str, int] = {}
    for k, (_, vs) in enumerate(snaps):
        for v in vs:
            if v[4]:
                assert k - last.get(v[0], k - 1) != 4
                last[v[0]] = k


def test_late_delivery_keeps_every_vector_once():
    snaps = feed.snapshots(4, 300, 0, 5)
    files = feed.late_delivery(4, snaps, 0.2)
    assert len(files) == len(snaps) + 1
    delivered = sorted(map(json.dumps, (v for f in files for v in f)))
    assert delivered == sorted(map(json.dumps, (v for _, vs in snaps for v in vs)))


# -- result line -------------------------------------------------------------


def test_metric_names_and_units_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert run.tail_percentile(19) == 100.0
    assert run.tail_percentile(40) == 75.0
    assert run.tail_percentile(100) == 90.0
    assert run.tail_percentile(10_000) == 99.9
    assert run.percentile([1.0, 2.0, 3.0], 50) == 2.0
    assert run.percentile([1.0, 2.0, 3.0], 100) == 3.0


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "catalog_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# -- flight workloads on a tiny fleet ----------------------------------------


def _bench(name: str, seconds: float, trace: bool) -> run.Bench:
    args = argparse.Namespace(workload=name, seed=11, seconds=seconds, trace=int(trace))
    bench = run.Bench(args)
    os.makedirs(bench.work)
    return bench


def _run(bench, fn) -> None:
    try:
        fn(bench)
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)


def test_batch_cycle_matches_replay_oracle_on_tiny_fleet(monkeypatch):
    monkeypatch.setattr(workloads, "FLEET", 60)
    monkeypatch.setattr(workloads, "DIMENSION_ROWS", 200)
    bench = _bench("adsb_batch_cycle", 25, trace=True)
    _run(bench, workloads.adsb_batch_cycle)
    assert bench.correct and bench.failed == 0 and bench.attempted >= 4
    assert set(run.END_TO_END) <= set(bench.metrics)
    assert bench.metrics["sinks.append_jobs"] > 0
    assert bench.metrics["pipeline.jobs_per_cycle"] >= bench.metrics["sinks.append_jobs"]
    assert bench.metrics["state.rows"] > 0


def test_stream_matches_replay_oracle_on_tiny_fleet(monkeypatch):
    monkeypatch.setattr(workloads, "STREAM_FLEET", 60)
    monkeypatch.setattr(workloads, "DIMENSION_ROWS", 200)
    monkeypatch.setattr(workloads, "STREAM_TICK_S", 1.0)
    bench = _bench("adsb_stream", 12, trace=False)
    _run(bench, workloads.adsb_stream)
    assert bench.correct and bench.failed == 0 and bench.attempted == 12
    assert set(run.END_TO_END) | set(run.STREAM_LAYER) <= set(bench.metrics)


def test_catalog_check_flags_only_the_query_that_differs(tmp_path):
    star_dir = str(tmp_path / "star")
    star.write(3, 0.001, star_dir)
    expected = workloads._oracle_hashes(star_dir)
    cols, n_rows, digest = expected["q6_forecast_revenue"]
    expected["q6_forecast_revenue"] = (cols, n_rows + 1, digest)
    bench = _bench("catalog_mix", 1, trace=False)
    wrong = set()
    _run(bench, lambda b: wrong.update(
        workloads._check_catalog(b.session(), star_dir, expected)
    ))
    assert wrong == {"q6_forecast_revenue"}


def test_wrong_facts_are_counted_as_failed(monkeypatch):
    snaps = feed.snapshots(2, 400, feed.start_epoch(2, 3), 14)
    dim = {}
    want = feed.expected_facts(snaps, dim)
    assert want
    t0 = snaps[0][0]
    lost = want[0][2] + (t0 - want[0][2]) % feed.STEP_S  # its poll time
    broken = [r for r in want if r[2] + (t0 - r[2]) % feed.STEP_S != lost]

    class Spark:
        class read:  # noqa: N801 - mimics spark.read.parquet
            @staticmethod
            def parquet(path):
                return path

    monkeypatch.setattr(feed, "facts_rows", lambda df: broken)
    bench = argparse.Namespace(spark=Spark, attempted=0, failed=0, correct=True)
    timed = [t for t, _ in snaps]
    workloads._check_facts(bench, snaps, dim, "unused", timed)
    assert (bench.attempted, bench.failed, bench.correct) == (14, 1, True)
    # the same loss outside the timed window makes the run incorrect
    workloads._check_facts(bench, snaps, dim, "unused", [t for t in timed if t != lost])
    assert not bench.correct
