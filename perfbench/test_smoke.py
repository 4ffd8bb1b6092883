"""Tests of the benchmark itself (not part of the engine's test suite).

    python -m pytest perfbench/test_smoke.py -q

The smoke run starts one Spark session and takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import oracle as O  # noqa: E402

CHECKS = {
    "serve_join_matches", "serve_rejected", "knn_top3", "enrichment",
    "catchment_join_matches", "catchment_rejected", "raster_masks",
    "dedup_pairs", "dedup_recall",
}


def test_smoke_runs_every_workload_and_every_check_bites():
    """Every workload end to end at tiny sizes; each check passes on the engine's
    output and fails once one of its expected values is made wrong."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    assert json.loads(lines[-1]) == {"correct": True, "failures": {}}
    smoke = json.loads(lines[-2])["smoke"]
    assert set(smoke) == {"serve_points", "upload_catchments", "corpus_dedup"}
    assert {c for d in smoke.values() for c in d["checks"]} == CHECKS
    assert all(d["samples"] == 1 for d in smoke.values())


def test_refuses_to_run_without_engine_sources(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, it fails
    without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_points", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_ray_cast_is_boundary_inclusive():
    square = np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)
    lon = np.array([0.5, 1.0, 0.0, 1.5, 0.5])
    lat = np.array([0.5, 0.5, 0.0, 0.5, 1.0 + 1e-12])
    assert O.covers(lon, lat, square).tolist() == [True, True, True, False, False]


def test_recall_floor_follows_banding():
    # 32 hashes in 8 bands: a pair at Jaccard 0.9 is missed with p <= 3.9e-4
    assert O.banding_recall_floor(100, 0.9, 4, 8) == 97
    assert O.banding_recall_floor(0, 0.9, 4, 8) == 0
    with pytest.raises(O.CheckFailed):
        O.check_rejected({"a"}, {"a", "b"})
