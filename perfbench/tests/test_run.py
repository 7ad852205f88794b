"""End-to-end checks of one traced and one untraced benchmark run
(about three minutes on 4 cores).

    python3 -m pytest perfbench/tests/test_run.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    rec_line = next(line for line in lines if line.strip().startswith("record "))
    with open(os.path.join(ROOT, rec_line.split()[1])) as f:
        return result, json.load(f)


@pytest.fixture(scope="module")
def traced():
    return _run("graph_sparse", 1)


def test_untraced_prints_every_end_to_end_metric():
    result, rec = _run("matmul_dense", 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(run.END_TO_END)
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for key in ("nproc", "master", "shuffle_partitions", "sf_dir", "seed", "pyspark", "loadavg_start", "loadavg_end"):
        assert key in rec["run"]


def test_traced_prints_every_per_layer_metric(traced):
    result, _ = traced
    assert {k: v["unit"] for k, v in result["metrics"].items()} == dict(run.PER_LAYER)


def test_layer_times_add_up_per_query(traced):
    _, rec = traced
    cores = rec["run"]["cores"]
    for ms in rec["layers"]["per_query"].values():
        for m in ms:
            assert m["driver.unattributed_s"] >= 0
            assert m["active_s"] + m["driver.unattributed_s"] <= m["wall_s"] + 1e-6
            # tasks only run while one of the query's stages is active
            assert m["executor.run_s"] / cores <= m["active_s"] + 0.05


def test_query_shuffle_adds_up_to_pass_shuffle(traced):
    _, rec = traced
    for p in rec["layers"]["per_pass"]:
        assert p["shuffle.write_mb"] == pytest.approx(p["pass_shuffle_mb"], rel=1e-6, abs=1e-9)


def test_graph_workload_bypasses_python(traced):
    result, _ = traced
    assert result["metrics"]["python.worker_s"]["value"] == pytest.approx(0.0, abs=0.05)
