"""Tiny-scale smoke runs of every workload, in both modes, and the checks
the benchmark's contract asks of its command line."""

import functools
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import metrics

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
WORKLOADS = ["queries-light", "medallion-stream"]


@functools.lru_cache(maxsize=None)
def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric(workload, trace):
    r = _run(workload, trace)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    spec = metrics.PER_LAYER if trace else metrics.END_TO_END
    assert {k: v["unit"] for k, v in r["metrics"].items()} == spec
    for k, v in r["metrics"].items():
        print(f"{workload} {k} = {v['value']} {v['unit']}")
    if not trace:
        assert all(v["value"] > 0 for v in r["metrics"].values())


def test_sharing_and_enrichment_are_bypassed_on_queries_light():
    m = {k: v["value"] for k, v in _run("queries-light", 1)["metrics"].items()}
    assert m["share.cached_rdds"] == 0
    assert m["enrich.batches"] == 0
    assert m["read.infer_jobs"] > 0


def test_traced_self_times_account_for_the_pass():
    m = {k: v["value"] for k, v in _run("medallion-stream", 1)["metrics"].items()}
    total = sum(m[f"{layer}_s"] for layer in metrics.SELF_TIME_LAYERS)
    assert total == pytest.approx(m["trace.wall_s"], rel=1e-6)
    assert m["enrich.batches"] > 0 and m["stream.batches"] > 0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries-light",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout
