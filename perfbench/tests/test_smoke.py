"""Smoke self-test of the benchmark on tiny inputs.

Run from the repository root::

    python3 -m pytest perfbench/tests -q

Each end-to-end case starts a local Spark session (~30-60 s apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "small"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_generated_headers_match_points(tmp_path):
    tiles = gen.make_tiles(str(tmp_path), seed=1, cols=2, rows=1,
                           points_per_tile=500, tile_m=50.0)
    assert [os.path.basename(p) for p in tiles.paths] == ["tile_000_000.las", "tile_000_001.las"]
    for path, pts in zip(tiles.paths, tiles.points):
        h = gen.parse_las_header(path)
        assert h["count"] == len(pts) == 500
        assert os.path.getsize(path) == h["data_end"]
        for a, axis in enumerate("xyz"):
            assert h["min"][a] == gen.SCALE * int(pts[axis].min())
            assert h["max"][a] == gen.SCALE * int(pts[axis].max())
    # tiles of one set cover disjoint raw x ranges on one grid
    a, b = tiles.points
    assert a["x"].max() < b["x"].min()


def test_same_seed_same_inputs(tmp_path):
    one = gen.make_tiles(str(tmp_path / "a"), 7, 1, 1, 100, 50.0)
    two = gen.make_tiles(str(tmp_path / "b"), 7, 1, 1, 100, 50.0)
    with open(one.paths[0], "rb") as f, open(two.paths[0], "rb") as g:
        assert f.read() == g.read()


@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_runs_correct_with_every_end_to_end_metric(workload):
    p = _run(workload, trace=0)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_traced_run_emits_every_per_layer_metric():
    p = _run("tiles", trace=1)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"], p.stdout[-3000:]
    want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["fused_read.jobs_per_meta_op"] == 0 and m["fused_read.answer_ratio"] == 1
    assert m["las.files_kept_ratio"] == 0.5  # the bbox keeps 2 of the 4 small tiles
    assert m["spark.tasks"] > 0


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".results", "__pycache__"))
    p = _run("tiles", trace=0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
