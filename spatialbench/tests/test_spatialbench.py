"""Checks of the benchmark itself: its oracles, that a wrong answer counts
as a failed job, that a traced run reports every layer, that it runs from
any working directory and that it refuses to run without the engine.

    python3 -m pytest spatialbench/tests -q

The Spark tests start one JVM each (about half a minute apiece).
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from spatialbench import harness, oracles, workloads  # noqa: E402

RUN = os.path.join(ROOT, "spatialbench", "run.py")


def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_in_ring_square_with_hole():
    sq = np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float)
    hole = np.array([[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]], dtype=float)
    px = np.array([0.5, 2.0, 5.0, 3.5])
    py = np.array([0.5, 2.0, 2.0, 3.9])
    assert oracles.in_ring(px, py, sq).tolist() == [True, True, False, True]
    assert (oracles.in_ring(px, py, sq) & ~oracles.in_ring(px, py, hole)).tolist() == [
        True, False, False, True,
    ]


def test_mercator_round_trip():
    lon = np.array([-179.5, 0.0, 12.25, 179.0])
    lat = np.array([-80.0, 0.0, 47.5, 84.0])
    back = oracles.mercator_to_lonlat(*oracles.lonlat_to_mercator(lon, lat))
    np.testing.assert_allclose(back, (lon, lat), atol=1e-9)


def test_knn_bruteforce_breaks_ties_by_id():
    nid = np.array([9, 5, 3, 7], dtype=np.int64)
    nx = np.array([1.0, 0.0, -1.0, 2.0])
    ny = np.array([0.0, 1.0, 0.0, 0.0])
    got = oracles.knn_bruteforce(
        np.array([1]), np.array([0.0]), np.array([0.0]), nid, nx, ny, k=2
    )
    assert got == {1: [3, 5]}  # 3, 5 and 9 tie at distance 1


def test_synth_pages_lonlat_is_whole_micro_degrees():
    lon, lat = oracles.synth_pages_lonlat(np.arange(1000, dtype=np.int64))
    assert (lon >= -180).all() and (lon < 180).all()
    assert (lat >= -84).all() and (lat < 84).all()
    np.testing.assert_array_equal(np.round(lon * 1e6) / 1e6, lon)


class TinyFlagship(workloads.FlagshipScan):
    sizes = {**workloads.FlagshipScan.sizes, "pages": 20_000, "files": 2}


class TamperedFlagship(TinyFlagship):
    """Expects one point more in one polygon than the oracle found."""

    def __init__(self, seed, cores):
        super().__init__(seed, cores)
        pid = min(self.expected)
        self.expected = {**self.expected, pid: self.expected[pid] + 1}


class TinyCommit(workloads.PipelineCommit):
    sizes = {**workloads.PipelineCommit.sizes, "pages": 20_000}


class TinyKnn(workloads.KnnRing):
    sizes = {**workloads.KnnRing.sizes, "neighbours": 5_000, "queries": 100}


class TinyWarp(workloads.WarpUtm):
    sizes = {**workloads.WarpUtm.sizes, "width": 512, "height": 512}


def _assert_clean_exit(rec):
    assert rec["killed_at_exit"] == []
    assert harness.descendants(harness._proc_table(), os.getpid()) == []


def test_tampered_expected_answer_counts_as_failed(tmp_path):
    rec = harness.run(TamperedFlagship, 5, 0, False, str(tmp_path / "work"))
    res = rec["result"]
    assert res["attempted"] >= harness.MIN_JOBS
    assert res["failed"] == res["attempted"]
    assert res["correct"] is False
    assert res["metrics"]["ok_ratio"]["value"] == 0.0
    _assert_clean_exit(rec)


@pytest.mark.parametrize(
    "cls, called, not_called",
    [
        (TinyFlagship, "pages.scan_busy_s", "checkpoint.busy_s"),
        (TinyCommit, "checkpoint.busy_s", "knn.busy_s"),
        (TinyKnn, "knn.candidate_pairs", "spatial_join.busy_s"),
        (TinyWarp, "raster.gather_rows", "pages.geotag_busy_s"),
    ],
)
def test_traced_run_reports_every_layer(tmp_path, cls, called, not_called):
    rec = harness.run(cls, 3, 0, True, str(tmp_path / "work"))
    res = rec["result"]
    assert res["correct"] and res["failed"] == 0
    m = res["metrics"]
    assert {e["name"] for e in _bench_json()["per_layer"]} == set(m)
    assert m[called]["value"] > 0
    assert m[not_called]["value"] == 0
    assert m["trace.overhead_ratio"]["value"] > 0
    assert m["session.python_workers_started"]["value"] >= 1
    _assert_clean_exit(rec)


def test_runs_from_another_working_directory(tmp_path):
    out = subprocess.run(
        [sys.executable, RUN, "--workload", "flagship_scan", "--seed", "7",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert res["correct"] and res["failed"] == 0
    assert res["metrics"]["ok_ratio"]["value"] == 1.0
    assert set(res["metrics"]) == {e["name"] for e in _bench_json()["end_to_end"]}
    record = json.loads(lines[-2])
    assert record["result"] == res
    assert record["host"]["nproc"] and record["host"]["staging_fs"]
    saved = os.path.join(ROOT, ".spatialbench", "runs", "flagship_scan-seed7-trace0.json")
    with open(saved) as f:
        assert json.load(f)["result"] == res


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "spatialbench"), tmp_path / "spatialbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    cmd = _bench_json()["command"]
    out = subprocess.run(
        [sys.executable, *cmd[1:], "--workload", "flagship_scan", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert out.stdout.strip() == ""
