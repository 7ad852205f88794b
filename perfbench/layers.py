"""Per-layer metrics derived from Spark's public status REST API.

Every traced query call runs under its own job group
(``SparkContext.setJobGroup``).  After the run the benchmark reads
``/jobs``, ``/stages``, ``/sql?details=true`` and ``/executors`` once and
splits each query's wall time into the time during which any of its
stages was active and the remainder, ``driver.unattributed_s``: the
Python loop, planning, eager checkpoints and broadcast builds.

The derivation functions take the decoded JSON payloads, so the tests
can feed them synthetic ones.
"""

from __future__ import annotations

import datetime as _dt
import json
import re
import time
import urllib.request

MB = 1024.0 * 1024.0


class Rest:
    """Reader for one application's ``/api/v1`` endpoints."""

    def __init__(self, base_url: str, app_id: str) -> None:
        self.base = f"{base_url}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        return {
            "jobs": self.get("/jobs"),
            "stages": self.get("/stages"),
            "sql": self.get("/sql?details=true&planDescription=false&offset=0&length=1000000"),
            "executors": self.get("/executors"),
        }

    def settled_snapshot(self, timeout_s: float = 20.0) -> dict:
        """A snapshot taken once the listener bus has caught up: no job
        running and two consecutive reads agree on job and stage state."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            snap = self.snapshot()
            key = (
                [(j["jobId"], j["status"]) for j in snap["jobs"]],
                [(s["stageId"], s["attemptId"], s["status"]) for s in snap["stages"]],
            )
            done = all(j["status"] != "RUNNING" for j in snap["jobs"])
            if (done and key == prev) or time.monotonic() > deadline:
                return snap
            prev = key
            time.sleep(0.2)


def parse_time(s: str) -> float:
    """REST timestamp (``2026-10-17T03:22:54.421GMT``) → epoch seconds."""
    t = _dt.datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return t.replace(tzinfo=_dt.timezone.utc).timestamp()


_UNITS = {
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "h": 3600.0,
    "B": 1.0,
    "KiB": 1024.0,
    "MiB": MB,
    "GiB": MB * 1024.0,
    "TiB": MB * MB,
}
_QUANTITY = re.compile(r"(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def sql_metric_value(text: str) -> float:
    """The total of a formatted SQL metric, in seconds or bytes.

    Spark prints a single-task metric as ``2.8 s`` and a multi-task one
    as ``total (min, med, max (stageId: taskId))\\n3.1 s (0.1 s, ...)``;
    the total is the first quantity after the header line."""
    body = text.split("\n", 1)[1] if text.startswith("total") and "\n" in text else text
    m = _QUANTITY.search(body)
    if not m:
        raise ValueError(f"unparseable SQL metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS[unit] if unit else value


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def stage_owner(jobs: list[dict]) -> dict[int, int]:
    """stageId → jobId of the earliest job listing it.  A job lists the
    stages it reuses from earlier jobs too (as skipped); the earliest
    lister is the one that ran it."""
    owner: dict[int, int] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job.get("stageIds", ()):
            owner.setdefault(sid, job["jobId"])
    return owner


PYTHON_TIME = "time to run Python workers"
PYTHON_SENT = "data sent to Python workers"


def query_layers(snap: dict, group: str, window: tuple[float, float], cores: int) -> dict:
    """Layer metrics of the query whose jobs ran under job group ``group``
    between epoch seconds ``window``."""
    jobs = [j for j in snap["jobs"] if j.get("jobGroup") == group]
    job_ids = {j["jobId"] for j in jobs}
    owner = stage_owner(snap["jobs"])
    stages = [
        s
        for s in snap["stages"]
        if s["status"] != "SKIPPED" and owner.get(s["stageId"]) in job_ids
    ]
    t0, t1 = window
    spans = []
    for s in stages:
        if "submissionTime" not in s:
            continue
        a = max(t0, parse_time(s["submissionTime"]))
        b = min(t1, parse_time(s["completionTime"])) if "completionTime" in s else t1
        if b > a:
            spans.append((a, b))
    active = _union_length(spans)
    wall = t1 - t0

    def tot(field: str) -> float:
        return float(sum(s.get(field, 0) for s in stages))

    py_s = py_bytes = 0.0
    for ex in snap["sql"]:
        ex_jobs = set(ex.get("successJobIds", ())) | set(ex.get("failedJobIds", ())) | set(
            ex.get("runningJobIds", ())
        )
        if not ex_jobs or min(ex_jobs) not in job_ids:
            continue
        for node in ex.get("nodes", ()):
            for m in node.get("metrics", ()):
                if m["name"] == PYTHON_TIME:
                    py_s += sql_metric_value(m["value"])
                elif m["name"] == PYTHON_SENT:
                    py_bytes += sql_metric_value(m["value"])
    run_s = tot("executorRunTime") / 1e3
    return {
        "wall_s": wall,
        "active_s": active,
        "driver.unattributed_s": wall - active,
        "scheduler.jobs": len(jobs),
        "scheduler.stages": len(stages),
        "scheduler.tasks": tot("numCompleteTasks") + tot("numFailedTasks") + tot("numKilledTasks"),
        "scheduler.task_failures": tot("numFailedTasks"),
        "executor.run_s": run_s,
        "executor.cpu_s": tot("executorCpuTime") / 1e9,
        "executor.gc_s": tot("jvmGcTime") / 1e3,
        "executor.deserialize_s": tot("executorDeserializeTime") / 1e3,
        "executor.slot_occupancy": run_s / (cores * active) if active > 0 else 0.0,
        "shuffle.write_mb": tot("shuffleWriteBytes") / MB,
        "shuffle.read_mb": tot("shuffleReadBytes") / MB,
        "shuffle.write_s": tot("shuffleWriteTime") / 1e9,
        "shuffle.fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
        "shuffle.spill_mb": tot("diskBytesSpilled") / MB,
        "sources.input_mb": tot("inputBytes") / MB,
        "python.worker_s": py_s,
        "python.sent_mb": py_bytes / MB,
    }


#: Per-query fields that add up over the queries of a pass.
ADDITIVE = (
    "wall_s",
    "active_s",
    "driver.unattributed_s",
    "scheduler.jobs",
    "scheduler.stages",
    "scheduler.tasks",
    "scheduler.task_failures",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "executor.deserialize_s",
    "shuffle.write_mb",
    "shuffle.read_mb",
    "shuffle.write_s",
    "shuffle.fetch_wait_s",
    "shuffle.spill_mb",
    "sources.input_mb",
    "python.worker_s",
    "python.sent_mb",
)


def pass_layers(per_query: list[dict], cores: int) -> dict:
    """Sum the additive fields over one pass's queries; slot occupancy is
    recomputed from the sums."""
    out = {k: float(sum(q[k] for q in per_query)) for k in ADDITIVE}
    active = out["active_s"]
    out["executor.slot_occupancy"] = out["executor.run_s"] / (cores * active) if active > 0 else 0.0
    return out


def executor_peak_mb(snap: dict) -> float:
    """Largest JVM heap + off-heap + Python-worker RSS any executor reported."""
    peak = 0
    for e in snap["executors"]:
        pm = e.get("peakMemoryMetrics") or {}
        peak = max(
            peak,
            pm.get("JVMHeapMemory", 0)
            + pm.get("JVMOffHeapMemory", 0)
            + pm.get("ProcessTreePythonRSSMemory", 0),
        )
    return peak / MB
