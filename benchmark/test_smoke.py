"""Smoke test of the benchmark: tiny inputs through every workload in
both modes, two seeds.  Run from the repository root:

    python3 -m pytest benchmark/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# the operator spans each workload must time
OPS = {"geo_pipeline": ("transform", "pipeline_write", "pip_join",
                        "verify_images", "tile_pyramid"),
       "joins_dedup": ("knn_join", "radius_join", "pip_join", "phash_dedup",
                       "minhash_groups")}


def _run(cwd, workload, seed, trace):
    return subprocess.run(
        [sys.executable, "benchmark/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


@pytest.mark.parametrize("workload", WORKLOADS)
@pytest.mark.parametrize("trace", [0, 1])
def test_tiny_run_prints_every_metric(workload, trace):
    out = _run(ROOT, workload, seed=3 + trace, trace=trace)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    info = json.loads(lines[-2])["info"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, info["failed_checks"]
    assert info["failed_frac"] == 0.0 and result["attempted"] >= 1 + trace
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in SPEC[kind]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(isinstance(v, float) for v in values.values())
    if trace:
        # the top-level spans account for the pipeline's wall time
        assert values["trace.span_coverage"] > 0.9
        for op in OPS[workload]:
            assert values[f"{op}.exec_s"] > 0 and values[f"{op}.out_rows"] > 0, op
    else:
        assert values["ok_frac"] == 1.0
        assert all(values[k] > 0 for k in ("setup_s", "job_s", "rows_per_s",
                                           "peak_rss_mb"))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_seed_changes_every_generated_input(workload):
    from workloads import WORKLOADS as CLASSES

    a, b, a2 = (CLASSES[workload](s, 0.02) for s in (1, 2, 1))
    for name, table in a.tables.items():
        pd.testing.assert_frame_equal(table, a2.tables[name])
        if name != "rects":  # the fixed nation rectangles
            assert not table.equals(b.tables[name]), name


def test_sparse_knn_queries_are_planted():
    from workloads import WORKLOADS as CLASSES

    for seed in (1, 2):
        assert CLASSES["joins_dedup"](seed, 0.02).n_sparse >= 1
        assert CLASSES["joins_dedup"](seed, 1.0).n_sparse == 8


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "benchmark"), tmp_path / "benchmark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(tmp_path, WORKLOADS[0], seed=1, trace=0)
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
