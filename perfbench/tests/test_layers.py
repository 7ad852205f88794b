"""Unit tests of the benchmark's metric derivation and accounting, on
synthetic REST payloads (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402


def _ts(sec: float) -> str:
    import datetime as dt

    t = dt.datetime.fromtimestamp(sec, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}GMT"


T0 = 1_800_000_000.0


def _stage(sid, start, end, status="COMPLETE", **kw):
    s = {
        "stageId": sid,
        "attemptId": 0,
        "status": status,
        "submissionTime": _ts(T0 + start),
        "completionTime": _ts(T0 + end),
        "numCompleteTasks": 4,
        "numFailedTasks": 0,
        "numKilledTasks": 0,
        "executorRunTime": 2000,
        "executorCpuTime": 1_500_000_000,
        "jvmGcTime": 100,
        "executorDeserializeTime": 50,
        "shuffleWriteBytes": 1 << 20,
        "shuffleReadBytes": 1 << 19,
        "shuffleWriteTime": 10_000_000,
        "shuffleFetchWaitTime": 5,
        "diskBytesSpilled": 0,
        "inputBytes": 2 << 20,
    }
    s.update(kw)
    return s


def _snap():
    return {
        "jobs": [
            {"jobId": 0, "jobGroup": "g1", "stageIds": [0, 1], "status": "SUCCEEDED"},
            # job 1 reuses stage 1 (skipped here) and runs stage 2
            {"jobId": 1, "jobGroup": "g1", "stageIds": [1, 2], "status": "SUCCEEDED"},
            {"jobId": 2, "jobGroup": "g2", "stageIds": [1, 3], "status": "SUCCEEDED"},
        ],
        "stages": [
            _stage(0, 0.5, 1.5),
            _stage(1, 1.0, 2.0),
            _stage(2, 2.5, 3.0, numFailedTasks=1),
            _stage(3, 5.5, 6.0),
            _stage(4, 9.0, 9.5, status="SKIPPED"),
        ],
        "sql": [
            {
                "successJobIds": [0, 1],
                "nodes": [
                    {
                        "metrics": [
                            {"name": layers.PYTHON_TIME, "value": "total (min, med, max (stageId: taskId))\n1.5 s (0.1 s, 0.3 s, 0.5 s (stage 1.0: task 3))"},
                            {"name": layers.PYTHON_SENT, "value": "2.0 MiB"},
                        ]
                    }
                ],
            },
            {"successJobIds": [2], "nodes": [{"metrics": [{"name": layers.PYTHON_TIME, "value": "250 ms"}]}]},
        ],
        "executors": [{"peakMemoryMetrics": {"JVMHeapMemory": 100 << 20, "JVMOffHeapMemory": 50 << 20, "ProcessTreePythonRSSMemory": 10 << 20}}],
    }


def test_sql_metric_value_units():
    assert layers.sql_metric_value("2.8 s") == pytest.approx(2.8)
    assert layers.sql_metric_value("250 ms") == pytest.approx(0.25)
    assert layers.sql_metric_value("1.5 m") == pytest.approx(90.0)
    assert layers.sql_metric_value("256.0 KiB") == pytest.approx(256 * 1024)
    assert layers.sql_metric_value("total (min, med, max)\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB)") == pytest.approx(3 << 20)
    assert layers.sql_metric_value("1,234") == pytest.approx(1234)


def test_query_layers_attributes_stages_to_first_runner():
    snap = _snap()
    q1 = layers.query_layers(snap, "g1", (T0, T0 + 4.0), cores=4)
    q2 = layers.query_layers(snap, "g2", (T0 + 5.0, T0 + 7.0), cores=4)
    assert q1["scheduler.jobs"] == 2 and q1["scheduler.stages"] == 3
    assert q2["scheduler.jobs"] == 1 and q2["scheduler.stages"] == 1  # stage 1 belongs to g1
    assert q1["scheduler.task_failures"] == 1
    # stage intervals [0.5,2.0] ∪ [2.5,3.0] → 2.0 s active of 4.0 s
    assert q1["active_s"] == pytest.approx(2.0, abs=2e-3)
    assert q1["driver.unattributed_s"] == pytest.approx(2.0, abs=2e-3)
    assert q1["python.worker_s"] == pytest.approx(1.5)
    assert q1["python.sent_mb"] == pytest.approx(2.0)
    assert q2["python.worker_s"] == pytest.approx(0.25)
    assert q1["shuffle.write_mb"] == pytest.approx(3.0)


@pytest.mark.parametrize("window", [(T0, T0 + 4.0), (T0 + 1.2, T0 + 1.4), (T0 + 0.7, T0 + 2.7)])
def test_layer_times_within_wall(window):
    """Per query, executor time spread over the cores plus the
    unattributed driver time never exceeds the wall time, and the
    unattributed time is never negative."""
    m = layers.query_layers(_snap(), "g1", window, cores=4)
    wall = window[1] - window[0]
    assert m["driver.unattributed_s"] >= 0
    assert m["active_s"] + m["driver.unattributed_s"] == pytest.approx(wall)
    assert m["active_s"] <= wall + 1e-9


def test_pass_layers_sum_and_occupancy():
    snap = _snap()
    qs = [
        layers.query_layers(snap, "g1", (T0, T0 + 4.0), cores=4),
        layers.query_layers(snap, "g2", (T0 + 5.0, T0 + 7.0), cores=4),
    ]
    p = layers.pass_layers(qs, cores=4)
    assert p["shuffle.write_mb"] == pytest.approx(sum(q["shuffle.write_mb"] for q in qs))
    assert p["executor.slot_occupancy"] == pytest.approx(p["executor.run_s"] / (4 * p["active_s"]))
    assert layers.executor_peak_mb(snap) == pytest.approx(160.0)


def test_metric_tables_have_units_and_unique_names():
    import json

    names = [n for n, _ in run.END_TO_END + run.PER_LAYER]
    assert len(names) == len(set(names))
    assert all(u for _, u in run.END_TO_END + run.PER_LAYER)
    bench = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == list(run.PER_LAYER)
    assert {w["name"] for w in bench["workloads"]} <= set(W.WORKLOADS)
    assert all(w["why"] == W.WORKLOADS[w["name"]].why for w in bench["workloads"])


def test_injected_wrong_result_raises_failed_frac(tmp_path):
    """A wrong warm-up result is counted as a failed attempt."""
    import numpy as np

    class FakeRegistry:
        class Q:
            post_check = None

        REGISTRY = {"q_x": Q()}

        @staticmethod
        def oracles(sf_dir):
            return {"q_x": "SELECT 1 AS a, 2.5 AS b"}

    import datagen

    datagen.write_tables(str(tmp_path), seed=3, sf=0.001)
    rows = [W.Row(name="q_x", module="m", query="q_x")]
    good = {"q_x": ([(1, 2.5)], ["a", "b"])}
    wrong = {"q_x": ([(1, 2.6)], ["a", "b"])}
    out = run.Outcomes()
    run.check_rows(rows, good, str(tmp_path), FakeRegistry, out)
    assert out.failed_frac == 0.0 and out.attempted == 1
    run.check_rows(rows, wrong, str(tmp_path), FakeRegistry, out)
    assert out.failures == 1 and out.failed_frac == pytest.approx(0.5)
    assert "mismatch" in out.failed["q_x"][0]
    # a multiply row whose digest is off, or whose warm-up raised, fails too
    mm = [W.Row(name="mm", module="matrix", a=W.Operand(16, 3), b=W.Operand(16, 10), dense=True)]
    li = datagen.build_tables(3, 0.001, ("lineitem",))["lineitem"]
    li = {c: li[c].to_numpy() for c in ("l_orderkey", "l_partkey", "l_quantity")}
    want = W.digest_np(W.operand_np(li, mm[0].a) @ W.operand_np(li, mm[0].b))
    out = run.Outcomes()
    run.check_rows(mm, {"mm": want}, str(tmp_path), FakeRegistry, out)
    assert out.failures == 0
    run.check_rows(mm, {"mm": (want[0], want[1] * 1.001, want[2])}, str(tmp_path), FakeRegistry, out)
    run.check_rows(mm, {"mm": RuntimeError("boom")}, str(tmp_path), FakeRegistry, out)
    assert out.failures == 2 and out.attempted == 3
    assert np.isclose(out.failed_frac, 2 / 3)


def test_datagen_is_seeded():
    import datagen

    a = datagen.build_tables(5, 0.001, ("lineitem", "documents"))
    b = datagen.build_tables(5, 0.001, ("documents", "lineitem"))
    c = datagen.build_tables(6, 0.001, ("lineitem",))
    assert a["lineitem"].equals(b["lineitem"]) and a["documents"].equals(b["documents"])
    assert not a["lineitem"].equals(c["lineitem"])
    assert c["lineitem"].num_rows == a["lineitem"].num_rows


def test_negative_seed_is_rejected():
    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "graph_sparse", "--seed", "-1"])
    assert run.parse_args(["--workload", "graph_sparse", "--seed", "7"]).seed == 7
