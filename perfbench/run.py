"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload matmul_dense --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The run writes seeded inputs, starts
one local[N] Spark session (N = half the usable cores) with the confs in
``spark_conf``, sets up, warms up, then drives the workload's rows in a
closed loop with a single client (one driver thread, one row at a time,
each result written to a ``noop`` sink) until ``--seconds`` have passed.
The warm-up pass collects every result; after the timed window each is
checked against its DuckDB oracle or numpy product.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
ones (traced passes alternate with untraced ones so the same run
measures the tracing overhead).  The last line of stdout is one JSON
object; a JSON run record and the span list go to ``.bench_work/records``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")

import datagen  # noqa: E402
import layers  # noqa: E402
import proctree  # noqa: E402
from workloads import PKG, WORKLOADS, Row  # noqa: E402
import workloads as W  # noqa: E402

#: (name, unit) of every end-to-end metric, printed with ``--trace 0``.
END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("peak_rss_mb", "MB"),
)

#: (name, unit) of every per-layer metric, printed with ``--trace 1``.
PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.operands_s", "s"),
    ("sources.input_mb", "MB"),
    ("driver.unattributed_s", "s"),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.task_failures", "count"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.deserialize_s", "s"),
    ("executor.slot_occupancy", "ratio"),
    ("shuffle.write_mb", "MB"),
    ("shuffle.read_mb", "MB"),
    ("shuffle.write_s", "s"),
    ("shuffle.fetch_wait_s", "s"),
    ("shuffle.spill_mb", "MB"),
    ("python.worker_s", "s"),
    ("python.sent_mb", "MB"),
    ("memory.executor_peak_mb", "MB"),
    ("matrix.gflop_per_s", "GFLOP/s"),
    ("matrix.useful_flop_frac", "ratio"),
    ("matrix.numpy_gflop_per_s", "GFLOP/s"),
    ("trace_overhead_frac", "ratio"),
)

NUMPY_GEMM_N = 2048
DRIVER_MEMORY = "1g"
#: Untimed noop passes after the collecting warm-up pass.  That first pass
#: in a fresh JVM costs several warm ones, and the next one still runs
#: 10-30% slow while generated code is compiled; later passes drift down
#: by a few percent, which the medians of the window absorb.
WARM_PASSES = 1
#: The timed window runs at least this many passes, even past ``--seconds``,
#: so every row's median has three samples or more.
MIN_PASSES = 3
#: Traced runs interleave untraced (U) and traced (T) passes as U T T U,
#: so a drift across the window cancels out of trace_overhead_frac.
TRACE_ORDER = (False, True, True, False)


def spark_conf(cores: int, run_dir: str) -> dict[str, str]:
    """Session confs on top of the engine's ``session.get_spark`` defaults."""
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        # one partition per slot: each stage runs as one wave of tasks, and
        # the cogrouped tile stages start no more Python work than there are
        # slots to run it
        "spark.sql.shuffle.partitions": str(cores),
        # the REST status API is the per-layer metrics' source
        "spark.ui.enabled": "true",
        "spark.ui.showConsoleProgress": "false",
        "spark.executor.processTreeMetrics.enabled": "true",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100000",
        # every file the session writes stays inside the run directory
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # A run is too short for the optimising JIT compiler to finish: with
        # it, every pass of the window ran faster than the one before.  The
        # client compiler alone settles within the warm-up, and the serial
        # collector keeps the heap, and so peak_rss_mb, from growing by
        # more than the run needs.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
        f"-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Dderby.system.home={tmp}",
    }


class Spans:
    """Spans kept in memory and written once when the run ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        span_id = len(self.items)
        self.items.append(
            {"id": span_id, "name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id, **attrs}
        )
        return span_id


class Outcomes:
    """Attempts and failures of the run's row executions."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed: dict[str, list[str]] = {}

    def record(self, name: str, error: str | None) -> None:
        self.attempted += 1
        if error is not None:
            self.failed.setdefault(name, []).append(error)

    @property
    def failures(self) -> int:
        return sum(len(v) for v in self.failed.values())

    @property
    def failed_frac(self) -> float:
        return self.failures / self.attempted if self.attempted else 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def loadavg() -> list[float]:
    return [float(x) for x in open("/proc/loadavg").read().split()[:3]]


# --------------------------------------------------------------------------
# correctness
# --------------------------------------------------------------------------


def normalize(rows, cols):
    """``tools/oracle_check.normalize``: the repo's oracle-gate row form."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from oracle_check import normalize as norm
    finally:
        sys.path.pop(0)
    return norm(rows, cols)


def check_query(result, oracle_sql: str | None, con, sf_dir: str, post_check) -> str | None:
    """None when ``result`` (collected rows, column names) matches the
    query's oracle and post_check; otherwise what is wrong."""
    rows, cols = result
    if post_check is not None:
        code = getattr(post_check, "__code__", None)
        msg = post_check(rows, cols, sf_dir) if code and code.co_argcount >= 3 else post_check(rows, cols)
        if msg:
            return f"post_check: {msg}"
    if oracle_sql is None:
        return None if rows else "no oracle and no rows"
    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
    a, b = normalize(rows, list(cols)), normalize(orows, ocols)
    if len(a) != len(b):
        return f"row count {len(a)} vs oracle {len(b)}"
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"value mismatch, e.g. {diff}"
    return None


def check_rows(rows: list[Row], results: dict, sf_dir: str, registry, out: Outcomes) -> dict:
    """Check every warm-up result; failures go to ``out``.  Returns the
    numpy-side facts of the multiply rows (flops, useful flops)."""
    import pyarrow.parquet as pq

    mm_facts: dict[str, dict] = {}
    mm_rows = [r for r in rows if r.query is None]
    if mm_rows:
        li = pq.read_table(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_partkey", "l_quantity"])
        li = {c: li[c].to_numpy() for c in li.column_names}
        for r in mm_rows:
            a, b = W.operand_np(li, r.a), W.operand_np(li, r.b)
            want = W.digest_np(a @ b)
            mm_facts[r.name] = {
                "n": r.a.n,
                "flops": 2.0 * r.a.n**3,
                "useful_flops": W.useful_flops(a, b),
                "digest_numpy": want,
            }
            got = results.get(r.name)
            if isinstance(got, BaseException) or got is None:
                out.record(r.name, f"warm-up raised: {got!r}")
            elif not W.digests_match(got, want):
                out.record(r.name, f"digest {got} vs numpy {want}")
            else:
                out.record(r.name, None)
    q_rows = [r for r in rows if r.query is not None]
    if q_rows:
        import duckdb

        oracles = registry.oracles(sf_dir)
        con = duckdb.connect()
        try:
            for t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
            for r in q_rows:
                got = results.get(r.name)
                if isinstance(got, BaseException) or got is None:
                    out.record(r.name, f"warm-up raised: {got!r}")
                    continue
                try:
                    err = check_query(got, oracles.get(r.query), con, sf_dir, registry.REGISTRY[r.query].post_check)
                except Exception as e:  # an oracle or post_check that raises is a failed check
                    err = f"check raised: {e!r}"
                out.record(r.name, err)
        finally:
            con.close()
    return mm_facts


def numpy_gflop_per_s(n: int = NUMPY_GEMM_N, reps: int = 3) -> float:
    """Single-process numpy GEMM rate at n×n: the spec's basic version."""
    import numpy as np

    a = np.random.default_rng(0).standard_normal((n, n))
    a @ a  # BLAS thread pool and pages, untimed
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        a @ a
        times.append(time.perf_counter() - t)
    return 2.0 * n**3 / median(times) / 1e9


# --------------------------------------------------------------------------
# the run
# --------------------------------------------------------------------------


class Bench:
    def __init__(self, args, cores: int, run_dir: str, sf_dir: str) -> None:
        self.args = args
        self.cores = cores
        self.run_dir = run_dir
        self.sf_dir = sf_dir
        self.workload = WORKLOADS[args.workload]
        self.rows = self.workload.rows(args.seed)
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = Spans(self.run_id)
        self.root_span = self.spans.add("run", time.time(), 0.0, workload=args.workload)
        self.monitor = proctree.TreeMonitor()
        self.out = Outcomes()
        self.phases: dict[str, float] = {}
        self.spark = None

    def _phase(self, name: str, fn):
        t0, w0 = time.monotonic(), time.time()
        res = fn()
        self.phases[name] = time.monotonic() - t0
        self.spans.add(name, w0, time.time(), self.root_span)
        return res

    # ---- set-up -------------------------------------------------------

    def start_session(self):
        from matrix_multiplication_bigdata_ind_assignments_spark.session import get_spark

        spark = get_spark(f"perfbench-{self.args.workload}", cpus=self.cores, extra_conf=spark_conf(self.cores, self.run_dir))
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def build_operands(self) -> dict:
        ops = {}
        for r in self.rows:
            for op in (r.a, r.b):
                if op is not None and op not in ops:
                    ops[op] = W.operand_df(self.spark, self.sf_dir, op).cache()
                    ops[op].count()
        return ops

    def frame(self, r: Row):
        if r.query is not None:
            return self.queries[r.query](self.spark, self.sf_dir)
        from matrix_multiplication_bigdata_ind_assignments_spark.operators import matrix as M

        return M.multiply(self.operands[r.a], self.operands[r.b], **r.kwargs)

    def warm_up(self) -> dict:
        """One untimed pass that keeps each result for the checks."""
        results = {}
        for r in self.rows:
            try:
                df = self.frame(r)
                if r.query is None:
                    results[r.name] = W.digest_df(df)
                else:
                    results[r.name] = ([tuple(x) for x in df.collect()], list(df.columns))
            except Exception as e:  # reported as a failed row, never dropped
                traceback.print_exc(file=sys.stderr)
                results[r.name] = e
        return results

    # ---- timed passes -------------------------------------------------

    def run_pass(self, k: int, traced: bool, warm: bool = False) -> dict:
        from matrix_multiplication_bigdata_ind_assignments_spark.functions.metrics import measure_shuffle

        sc = self.spark.sparkContext
        rec = {"index": k, "traced": traced, "warm": warm, "queries": []}

        def body():
            cpu0 = self.monitor.cpu_seconds()
            p0, w0 = time.perf_counter(), time.time()
            for r in self.rows:
                group = f"{self.run_id}:p{k}:{r.name}"
                if traced:
                    sc.setJobGroup(group, r.name)
                q0, qw0, qc0 = time.perf_counter(), time.time(), self.monitor.cpu_seconds()
                err = None
                try:
                    self.frame(r).write.format("noop").mode("overwrite").save()
                except Exception as e:  # counted in failed_frac and named in the output
                    err = f"{type(e).__name__}: {str(e)[:300]}"
                rec["queries"].append(
                    {
                        "name": r.name,
                        "module": r.module,
                        "group": group if traced else None,
                        "start": qw0,
                        "end": time.time(),
                        "wall_s": time.perf_counter() - q0,
                        "cpu_s": self.monitor.cpu_seconds() - qc0,
                        "error": err,
                    }
                )
                self.out.record(r.name, err)
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec["wall_s"] = time.perf_counter() - p0
            rec["start"], rec["end"] = w0, time.time()
            rec["cpu_s"] = self.monitor.cpu_seconds() - cpu0

        rec["shuffle"] = measure_shuffle(self.spark, body)
        rec["shuffle_mb"] = rec["shuffle"]["shuffle_write_bytes"] / layers.MB
        pass_span = self.spans.add(f"pass{k}", rec["start"], rec["end"], self.root_span, traced=traced, warm=warm)
        for q in rec["queries"]:
            self.spans.add(q["name"], q["start"], q["end"], pass_span, module=q["module"], group=q["group"])
        return rec

    # ---- main ---------------------------------------------------------

    def run(self, gen_s: float) -> dict:
        from matrix_multiplication_bigdata_ind_assignments_spark import registry

        self.spark = self._phase("session.start", self.start_session)
        self.monitor.sample()
        self.queries = registry.queries()
        self.operands = self._phase("sources.operands", self.build_operands)
        passes = []

        def warm_up():
            results = self.warm_up()
            for _ in range(WARM_PASSES):
                passes.append(self.run_pass(len(passes), traced=False, warm=True))
            return results

        results = self._phase("warm_up", warm_up)
        setup_s = time.monotonic() - T_START - gen_s
        self.monitor.sample()

        t0 = time.monotonic()
        timed = 0
        while True:
            traced = bool(self.args.trace) and TRACE_ORDER[timed % len(TRACE_ORDER)]
            passes.append(self.run_pass(len(passes), traced))
            timed += 1
            self.monitor.sample()
            if (
                time.monotonic() - t0 >= self.args.seconds
                and timed >= MIN_PASSES
                and (not self.args.trace or timed % len(TRACE_ORDER) == 0)
            ):
                break
        window_s = time.monotonic() - t0

        mm_facts = self._phase("check", lambda: check_rows(self.rows, results, self.sf_dir, registry, self.out))
        rec = {
            "setup_s": setup_s,
            "window_s": window_s,
            "phases": dict(self.phases, generate_inputs=gen_s),
            "passes": passes,
            "matrix": mm_facts,
        }
        if self.args.trace:
            rec["layers"] = self.trace_layers(passes, mm_facts)
        return rec

    def trace_layers(self, passes: list[dict], mm_facts: dict) -> dict:
        sc = self.spark.sparkContext
        snap = layers.Rest(sc.uiWebUrl, sc.applicationId).settled_snapshot()
        per_pass, per_query = [], {}
        for p in passes:
            if not p["traced"] or p["warm"]:
                continue
            qs = []
            for q in p["queries"]:
                m = layers.query_layers(snap, q["group"], (q["start"], q["end"]), self.cores)
                m["wall_s"] = q["end"] - q["start"]
                qs.append(m)
                per_query.setdefault(f"{q['module']}.{q['name']}", []).append(m)
            agg = layers.pass_layers(qs, self.cores)
            agg["pass_shuffle_mb"] = p["shuffle_mb"]
            per_pass.append(agg)

        def med(key):
            return median([x[key] for x in per_pass])

        metrics = {name: med(name) for name in layers.ADDITIVE if name not in ("wall_s", "active_s")}
        metrics["executor.slot_occupancy"] = med("executor.slot_occupancy")
        metrics["session.start_s"] = self.phases["session.start"]
        metrics["sources.operands_s"] = self.phases["sources.operands"]
        metrics["memory.executor_peak_mb"] = layers.executor_peak_mb(snap)
        dense = [r for r in self.rows if r.dense]
        flops = sum(mm_facts[r.name]["flops"] for r in dense)
        t_dense = median(
            [sum(q["wall_s"] for q in p["queries"] if q["name"] in {r.name for r in dense}) for p in passes if not p["warm"]]
        )
        metrics["matrix.gflop_per_s"] = flops / t_dense / 1e9 if dense and t_dense > 0 else 0.0
        metrics["matrix.useful_flop_frac"] = (
            sum(mm_facts[r.name]["useful_flops"] for r in dense) / flops if dense else 0.0
        )
        metrics["matrix.numpy_gflop_per_s"] = numpy_gflop_per_s()
        untraced = median([p["wall_s"] for p in passes if not p["traced"] and not p["warm"]])
        traced = median([p["wall_s"] for p in passes if p["traced"]])
        metrics["trace_overhead_frac"] = traced / untraced - 1.0 if untraced > 0 else 0.0
        per_query_med = {
            name: {
                "wall_s": median([m["wall_s"] for m in ms]),
                "jobs": median([m["scheduler.jobs"] for m in ms]),
                "stages": median([m["scheduler.stages"] for m in ms]),
                "shuffle.write_mb": median([m["shuffle.write_mb"] for m in ms]),
                "python.worker_s": median([m["python.worker_s"] for m in ms]),
                "driver.unattributed_s": median([m["driver.unattributed_s"] for m in ms]),
            }
            for name, ms in per_query.items()
        }
        return {"metrics": metrics, "per_pass": per_pass, "per_query": per_query, "per_query_median": per_query_med}

    def stop(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.monotonic() + 20
        while True:
            rest = [p for p in proctree.tree_pids() if p != os.getpid()]
            if not rest:
                return
            if time.monotonic() > deadline:
                for p in rest:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
                deadline = time.monotonic() + 5
            time.sleep(0.2)


def _seed(text: str) -> int:
    seed = int(text)
    if seed < 0:
        raise argparse.ArgumentTypeError("the seed must be a non-negative integer")
    return seed


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=_seed, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def row_median_sum(passes: list[dict], key: str) -> float:
    """Σ over the workload's rows of the row's median ``key`` across
    ``passes``: one pass's cost, with a slow spell on the host charged
    only to the row samples it overlapped."""
    by_row: dict[str, list[float]] = {}
    for p in passes:
        for q in p["queries"]:
            by_row.setdefault(q["name"], []).append(q[key])
    return sum(median(xs) for xs in by_row.values())


def end_to_end(rec: dict) -> dict:
    timed = [p for p in rec["passes"] if not p["traced"] and not p["warm"]]
    return {
        "setup_s": rec["setup_s"],
        "wall_s": row_median_sum(timed, "wall_s"),
        "cpu_s": row_median_sum(timed, "cpu_s"),
        "shuffle_mb": median([p["shuffle_mb"] for p in timed]),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the engine package {PKG} is not in {ROOT}; nothing to measure", file=sys.stderr)
        return 2
    # Task slots: half the usable cores.  The JVM's own threads, the driver
    # process and each task's Python worker need the rest; with a slot per
    # core, passes took longer and spread wider.
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the JVM and the Python workers it forks inherit this environment, so
    # they import the engine from this checkout whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["MMBD_SHUFFLE_PARTITIONS"] = str(cores)
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)

    load_start = loadavg()
    wl = WORKLOADS[args.workload]
    sf_dir = os.path.join(run_dir, "inputs")
    t = time.monotonic()
    counts = datagen.write_tables(sf_dir, args.seed, wl.sf)
    gen_s = time.monotonic() - t

    bench = Bench(args, cores, run_dir, sf_dir)
    try:
        rec = bench.run(gen_s)
        rec["peak_rss_mb"] = bench.monitor.peak_rss_mb()
        rec["peak_rss_mb_by_pid"] = bench.monitor.peaks_mb()
    finally:
        t = time.monotonic()
        bench.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    rec["phases"]["stop"] = time.monotonic() - t
    import pyspark

    bench.spans.items[bench.root_span]["end"] = time.time()
    rec["run"] = {
        "run_id": bench.run_id,
        "workload": args.workload,
        "why": wl.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "cores": cores,
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "spark_conf": spark_conf(cores, "<run_dir>"),
        "sf": wl.sf,
        "sf_dir": os.path.relpath(sf_dir, ROOT),
        "input_rows": counts,
        "rows": [r.name for r in bench.rows],
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "omp_num_threads": os.environ.get("OMP_NUM_THREADS"),
        "loadavg_start": load_start,
        "loadavg_end": loadavg(),
    }
    out = bench.out
    rec["attempted"], rec["failed"], rec["failed_frac"] = out.attempted, out.failures, out.failed_frac
    rec["failures"] = out.failed

    if args.trace:
        metrics = {name: (rec["layers"]["metrics"][name], unit) for name, unit in PER_LAYER}
    else:
        e2e = end_to_end(rec)
        metrics = {name: (e2e[name], unit) for name, unit in END_TO_END}
    rec["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}

    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{bench.run_id}")
    with open(stem + ".json", "w") as f:
        json.dump(rec, f, indent=1, default=str)
    with open(stem + "-spans.json", "w") as f:
        json.dump(bench.spans.items, f)

    walls = [p["wall_s"] for p in rec["passes"] if not p["traced"] and not p["warm"]]
    print(f"workload {args.workload} seed {args.seed} on local[{cores}]: {len(walls)} timed passes, rows {rec['run']['rows']}")
    for name, (value, unit) in metrics.items():
        print(f"  {name:<28} {value:12.4f} {unit}")
    print(f"  {'failed_frac':<28} {out.failed_frac:12.4f} ratio ({out.failures} of {out.attempted})")
    for name, m in rec.get("layers", {}).get("per_query_median", {}).items():
        print(f"  {name}.wall_s {m['wall_s']:.4f} s, {name}.jobs {m['jobs']:g} count")
    for name, errs in out.failed.items():
        print(f"  FAILED {name}: {errs[0]}")
    print(f"  record {os.path.relpath(stem, ROOT)}.json")
    print(
        json.dumps(
            {
                "correct": not out.failed,
                "attempted": out.attempted,
                "failed": out.failures,
                "metrics": rec["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
