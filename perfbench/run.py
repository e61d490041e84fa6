"""fugue_spark benchmark: one closed-loop client, oracle-checked.

    python3 perfbench/run.py --workload udf_map --seed 1 --seconds 15 --trace 0

One driver process runs one client on ``local[4]`` (fewer on a host with
fewer cores): each query is issued only after the previous one finished
and is forced through the ``noop`` sink. A run

1. generates the seeded dataset (``gen.py``; cached per seed),
2. starts Spark and runs every query of the workload once, untimed, and
   checks its result against the query's DuckDB oracle on the same files
   (this is also the first warm pass), then runs one more untimed pass;
   ``setup_s`` covers these and the start,
3. times passes over the workload for about ``--seconds`` (at least two),
   timing DuckDB on each query right after Spark ran it; a time is the
   fastest pass's, and
4. with ``--trace 1``, adds one traced pass, bracketed by two untraced
   ones, that opens build / plan / execute spans per query and reads each
   span's jobs, stages and tasks.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``: the bounded end-to-end metrics
(``duckdb_ratio``, ``setup_s``), or with ``--trace 1`` ``wall_s``,
``rows_per_s`` and the per-layer metrics. The lines before it report
every metric with its unit and n, the host weather and the per-query
times. A failed oracle check or a query that raised makes the exit code 1.

``--smoke`` runs every workload once (oracle pass, timed pass, traced
pass) on a small dataset, generated or given with ``--data``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from unittest import mock

import duckdb

from gen import TABLES, generate, input_rows
from probe import RssSampler, SparkCounters, cpu_jiffies, descendants, python_cpu_s, weather
from workloads import PYTHON_ROWS, TABLES_READ, WORKLOADS

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# local[4], or fewer on a host with fewer cores: more threads than cores
# would time the scheduler, not the engine
CORES = min(4, len(os.sched_getaffinity(0)))
# DuckDB runs a query in tens of milliseconds, so a single timing is mostly
# noise; each DuckDB time is the fastest of repeated runs
DUCK_MIN_RUNS = 3
DUCK_MIN_S = 0.3
# untimed noop passes after the checked one: the JIT is still compiling
# through the second pass, which runs 20-30 % slower than the third
WARM_PASSES = 1
# timed passes a run makes however long they take, so that one pass slowed
# by the host is not the run's only one
MIN_PASSES = 2
# the dataset: REPS replicas of a base drawn at BASE_FRACTION of sf0.1, i.e.
# sf0.05-shaped (300 k lineitem, 75 k orders, 2.5 k documents, 1 k embeddings)
REPS = 2
BASE_FRACTION = 0.25
# generated datasets kept in the work directory, one per seed
KEEP_DATASETS = 12

# per-layer metric -> unit; the traced run reports all of them
LAYER_UNITS = {
    "frontend.build_s": "s",
    "frontend.plan_s": "s",
    "probes.jobs": "count",
    "probes.s": "s",
    "materialize.stored_mb": "MB",
    "materialize.rdds": "count",
    "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_read_mb": "MB",
    "exchange.spill_mb": "MB",
    "exchange.fetch_wait_s": "s",
    "python.cpu_s": "s",
    "python.bytes_to_worker_mb": "MB",
    "python.bytes_from_worker_mb": "MB",
    "python.peak_rss_mb": "MB",
    "scan.input_mb": "MB",
    "scan.input_rows": "count",
    "scan.tasks": "count",
    "write.output_mb": "MB",
    "write.files": "count",
    "sched.jobs": "count",
    "sched.stages": "count",
    "sched.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "jvm.gc_s": "s",
    "peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}


# JVM temp files go to the work dir; no perf-data file under /tmp
_JVM_OPTS = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
_DRIVER_OPTS = _JVM_OPTS + " -Xms3g"


def _log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _checkout_ok() -> bool:
    return os.path.isdir(os.path.join(REPO, "fugue_spark")) and os.path.isfile(
        os.path.join(REPO, "scripts", "make_sf1.py")
    )


def _confine() -> None:
    """Keep every file Spark, its Python workers and DuckDB write inside
    the work directory, and let the workers import this checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the JVM that spark-class runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = _JVM_OPTS
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )


def _start_spark():
    from fugue_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        spark__driver__memory="3g",
        spark__ui__enabled="false",
        spark__ui__showConsoleProgress="false",
        spark__local__dir=os.path.join(WORK, "spark-local"),
        spark__sql__warehouse__dir=os.path.join(WORK, "warehouse"),
        spark__driver__extraJavaOptions=_DRIVER_OPTS,
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        with contextlib.suppress(OSError):
            os.kill(pid, 9)


def _dataset(seed: int) -> str:
    root = os.path.join(WORK, "data")
    os.makedirs(root, exist_ok=True)
    dst = os.path.join(root, f"sf{0.1 * REPS * BASE_FRACTION:g}-seed{seed}")
    if not os.path.exists(os.path.join(dst, "_COMPLETE")):
        old = sorted((os.path.join(root, d) for d in os.listdir(root)), key=os.path.getmtime)
        for d in old[: max(0, len(old) - (KEEP_DATASETS - 1))]:
            shutil.rmtree(d, ignore_errors=True)
    return generate(dst, seed, REPS, BASE_FRACTION)


def _duckdb(data_dir: str):
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp', 'duckdb')}'")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _duck_statements(spec) -> tuple[str, ...]:
    """DuckDB timing SQL: the oracle, or the spec's timing-only SQL (q9's
    real write and reload) with its output moved into the work dir."""
    if not spec.duck_bench:
        return (spec.oracle,)
    sql = spec.duck_bench.replace("/tmp/", os.path.join(WORK, "tmp") + "/")
    return tuple(s for s in sql.split(";") if s.strip())


class Run:
    """One benchmark run of one workload on one dataset."""

    def __init__(self, spark, data_dir: str, queries: tuple[str, ...]):
        from fugue_spark.benchmarks import QUERIES

        self.spark = spark
        self.data_dir = data_dir
        self.specs = [(n, QUERIES[n], n in PYTHON_ROWS) for n in queries]
        self.duck = _duckdb(data_dir)
        self.oracle_tables: dict[str, str] = {}
        self.attempted = 0
        self.failures: list[str] = []
        self.query_s: dict[str, list[float]] = {n: [] for n in queries}
        self.pass_s: list[float] = []
        self.duck_pass_s: list[float] = []

    def _fail(self, name: str, what: str, ex: BaseException) -> None:
        self.failures.append(f"{name} {what}: {type(ex).__name__}: {str(ex)[:300]}")
        print(f"# FAILED {name} {what}: {ex}", file=sys.stderr)

    def _build(self, spec, python_row: bool):
        # a Python row turns auto-compile off, which the engine reads each
        # time a transform is built, so it takes the Python executor
        env = {"FUGUE_SPARK_AUTO_COMPILE": "0"} if python_row else {}
        with mock.patch.dict(os.environ, env):
            return spec.spark_fn(self.spark, self.data_dir)

    def _oracle_table(self, sql: str) -> str:
        """The oracle's result as a DuckDB temp table, computed once per
        distinct SQL (p5 and p6 share theirs)."""
        if sql not in self.oracle_tables:
            table = f"perfbench_oracle_{len(self.oracle_tables)}"
            self.duck.execute(f"CREATE TEMP TABLE {table} AS {sql}")
            self.oracle_tables[sql] = table
        return self.oracle_tables[sql]

    def _compare(self, got, sql: str) -> None:
        """Raise unless ``got`` holds exactly the oracle's rows (a multiset
        compare by column name, computed in DuckDB)."""
        want = self._oracle_table(sql)
        want_cols = [r[0] for r in self.duck.execute(f"DESCRIBE {want}").fetchall()]
        if sorted(got.columns) != sorted(want_cols):
            raise AssertionError(f"columns {sorted(got.columns)} vs oracle {sorted(want_cols)}")
        cols = ", ".join(f'"{c}"' for c in sorted(want_cols))
        self.duck.register("perfbench_got", got)
        try:
            a, b = f"SELECT {cols} FROM perfbench_got", f"SELECT {cols} FROM {want}"
            extra, missing = self.duck.execute(
                f"SELECT (SELECT count(*) FROM ({a} EXCEPT ALL {b})), "
                f"(SELECT count(*) FROM ({b} EXCEPT ALL {a}))"
            ).fetchone()
        finally:
            self.duck.unregister("perfbench_got")
        if extra or missing:
            raise AssertionError(
                f"{extra} of {len(got)} rows not in the oracle, {missing} oracle rows missing"
            )

    def check(self) -> float:
        """Untimed warm pass: run every query once and compare it with its
        DuckDB oracle. Returns the seconds spent in DuckDB."""
        duck_s = 0.0
        for name, spec, python_row in self.specs:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                got = self._build(spec, python_row).toPandas()
                t1 = time.perf_counter()
                try:
                    self._compare(got, spec.oracle)
                finally:
                    duck_s += time.perf_counter() - t1
                _log(f"checked {name}: spark {t1 - t0:.2f}s, oracle "
                     f"{time.perf_counter() - t1:.2f}s, {len(got)} rows")
            except Exception as ex:  # noqa: BLE001 - counted as a failed op
                self._fail(name, "oracle check", ex)
        return duck_s

    def _time_duck(self, stmts: tuple[str, ...]) -> float:
        """Fastest DuckDB time of ``stmts`` over DUCK_MIN_RUNS runs, or
        fewer when they already took DUCK_MIN_S seconds. The JVM's
        background threads (JIT, GC) can only add to a DuckDB run right
        after a Spark query, so the fastest run is the one they disturbed
        least."""
        runs: list[float] = []
        while len(runs) < DUCK_MIN_RUNS and sum(runs) < DUCK_MIN_S:
            t0 = time.perf_counter()
            for stmt in stmts:
                self.duck.execute(stmt).fetchall()
            runs.append(time.perf_counter() - t0)
        return min(runs)

    def timed_pass(self, record: bool = True) -> None:
        """One pass: each query through the noop sink, then the same query
        on DuckDB (identical SQL is timed once per pass). A warm pass
        (``record=False``) runs the Spark side only and keeps no times."""
        spark_total = duck_total = 0.0
        duck_s: dict[tuple[str, ...], float] = {}
        ok = True
        for name, spec, python_row in self.specs:
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                self._build(spec, python_row).write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
            except Exception as ex:  # noqa: BLE001 - counted as a failed op
                self._fail(name, "timed run", ex)
                ok = False
                continue
            if not record:
                continue
            self.query_s[name].append(dt)
            spark_total += dt
            stmts = _duck_statements(spec)
            if stmts not in duck_s:
                duck_s[stmts] = self._time_duck(stmts)
            duck_total += duck_s[stmts]
        if ok and record:
            self.pass_s.append(spark_total)
            self.duck_pass_s.append(duck_total)

    def traced_pass(self) -> tuple[float, dict, dict]:
        """One pass with build / plan / execute spans per query, each under
        its own job group. Returns the pass wall, the per-layer totals and
        the per-query span seconds."""

        sc = self.spark.sparkContext
        counters = SparkCounters(self.spark)
        totals = dict.fromkeys(LAYER_UNITS, 0.0)
        spans: dict[str, dict] = {}

        def add(key: str, value: float) -> None:
            totals[key] += value

        root = os.getpid()
        gc0, py0 = counters.gc_s(), python_cpu_s(root)
        t_pass = time.perf_counter()
        with RssSampler(root) as rss:
            for i, (name, spec, python_row) in enumerate(self.specs):
                self.attempted += 1
                stored0, rdds0 = counters.storage()
                exec0 = counters.last_execution_id()
                group = f"perfbench-{i}-{name}"
                marks = [time.perf_counter()]
                try:
                    sc.setJobGroup(f"{group}-build", f"{name}: build")
                    df = self._build(spec, python_row)
                    marks.append(time.perf_counter())
                    sc.setJobGroup(f"{group}-plan", f"{name}: plan")
                    df._jdf.queryExecution().executedPlan()
                    marks.append(time.perf_counter())
                    sc.setJobGroup(f"{group}-execute", f"{name}: execute")
                    df.write.format("noop").mode("overwrite").save()
                    marks.append(time.perf_counter())
                except Exception as ex:  # noqa: BLE001 - counted as a failed op
                    self._fail(name, "traced run", ex)
                    continue
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                counters.drain()
                build, plan, execute = (
                    counters.jobs(f"{group}-{s}") for s in ("build", "plan", "execute")
                )
                build_s, plan_s, exec_s = (b - a for a, b in zip(marks, marks[1:]))
                spans[name] = {
                    "build_s": build_s, "plan_s": plan_s, "execute_s": exec_s,
                    "probe_jobs": build["jobs"], "probe_s": build["job_s"],
                }
                add("frontend.build_s", max(build_s - build["job_s"], 0.0))
                add("frontend.plan_s", plan_s)
                add("probes.jobs", build["jobs"])
                add("probes.s", build["job_s"])
                for part in (build, plan, execute):
                    add("sched.jobs", part["jobs"])
                    add("sched.stages", part["stages"])
                    add("sched.tasks", part["tasks"])
                    add("executor.run_s", part["run_s"])
                    add("executor.cpu_s", part["cpu_s"])
                    add("scan.input_mb", part["input_bytes"] / 2**20)
                    add("scan.input_rows", part["input_rows"])
                    add("scan.tasks", part["scan_tasks"])
                    add("write.output_mb", part["output_bytes"] / 2**20)
                    add("exchange.shuffle_write_mb", part["shuffle_write_bytes"] / 2**20)
                    add("exchange.shuffle_read_mb", part["shuffle_read_bytes"] / 2**20)
                    add("exchange.spill_mb", part["spill_bytes"] / 2**20)
                    add("exchange.fetch_wait_s", part["fetch_wait_s"])
                sql = counters.sql_metrics(exec0)
                add("python.bytes_to_worker_mb", sql["python_to_worker_bytes"] / 2**20)
                add("python.bytes_from_worker_mb", sql["python_from_worker_bytes"] / 2**20)
                add("write.files", sql["written_files"])
                stored1, rdds1 = counters.storage()
                add("materialize.stored_mb", max(stored1 - stored0, 0) / 2**20)
                add("materialize.rdds", max(rdds1 - rdds0, 0))
                del df
        wall = time.perf_counter() - t_pass
        totals["jvm.gc_s"] = counters.gc_s() - gc0
        totals["python.cpu_s"] = python_cpu_s(root) - py0
        totals["python.peak_rss_mb"] = rss.peak_python / 2**20
        totals["peak_rss_mb"] = rss.peak_total / 2**20
        return wall, totals, spans


def _quartiles(xs: list[float]) -> tuple[float, float]:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def _report(label: str, value: float, unit: str, n: int, xs: "list[float] | None" = None) -> None:
    line = f"{label:<30} {value:>14.4f} {unit:<6} n={n}"
    if xs and len(xs) > 1:
        q1, q3 = _quartiles(xs)
        line += f"  q1={q1:.4f} q3={q3:.4f} min={min(xs):.4f} max={max(xs):.4f}"
    print(line)


def run_workload(spark, workload: str, data_dir: str, seconds: float, trace: bool,
                 t_setup: float) -> tuple[dict, Run]:
    """Oracle pass, timed passes, optional traced pass; prints the report.
    ``t_setup`` is when set-up began (before Spark started). Returns the
    metrics for the result line, with their units, and the run."""

    queries = WORKLOADS[workload]
    run = Run(spark, data_dir, queries)
    oracle_s = run.check()
    for _ in range(WARM_PASSES):
        run.timed_pass(record=False)
    setup_s = time.perf_counter() - t_setup - oracle_s
    _log(f"set-up done in {setup_s:.2f}s")

    # passes until the next one would overrun the window by more than half
    # a pass; always at least MIN_PASSES
    t_end = time.perf_counter() + seconds
    while True:
        t0 = time.perf_counter()
        j0 = cpu_jiffies()
        run.timed_pass()
        took = time.perf_counter() - t0
        _log(f"timed pass {len(run.pass_s)}: "
             f"spark {run.pass_s[-1] if run.pass_s else float('nan'):.2f}s, "
             f"host steal {weather(since=j0)['steal_pct']}%")
        if len(run.pass_s) >= MIN_PASSES and time.perf_counter() + took / 2 > t_end:
            break
    rows = sum(input_rows(data_dir, TABLES_READ[q]) for q in queries)
    n = len(run.pass_s)
    # the fastest pass: a pass slowed by the host (CPU steal comes in bursts
    # of tens of seconds and makes a pass up to 1.7x slower) or by a JIT
    # that is still compiling (each pass runs a little faster than the one
    # before) is a slower one
    wall = min(run.pass_s) if n else float("nan")
    duck = min(run.duck_pass_s) if n else float("nan")
    print(f"## {workload}: {len(queries)} queries, {rows} input rows per pass, "
          f"closed loop, 1 client, local[{CORES}]")
    _report("setup_s", setup_s, "s", 1)
    _report("wall_s", wall, "s", n, run.pass_s)
    _report("rows_per_s", rows / wall, "rows/s", n)
    _report("duckdb_ratio", wall / duck, "x", n,
            [s / d for s, d in zip(run.pass_s, run.duck_pass_s)])
    _report("duckdb_s", duck, "s", n, run.duck_pass_s)
    _report("failed_ops", len(run.failures) / max(run.attempted, 1), "share", run.attempted)
    for q in queries:
        xs = run.query_s[q]
        if xs:
            _report(f"query.{q}.wall_s", statistics.median(xs), "s", len(xs), xs)
    # the bounded metrics. wall_s moves with the host: a pass under 10-20 %
    # CPU steal runs up to 1.7x slower. DuckDB runs each query right after
    # Spark, under the same weather, and its time does not depend on this
    # repository's code, so the ratio keeps a change's slowdown and cancels
    # most of the host's
    if not trace:
        return {"duckdb_ratio": (wall / duck, "x"), "setup_s": (setup_s, "s")}, run

    # bracket the traced pass with untraced ones at the same warmth: the
    # last timed pass before it and one more after it
    traced_wall, layers, spans = run.traced_pass()
    run.timed_pass()
    untraced = statistics.mean(run.pass_s[-2:]) if len(run.pass_s) >= 2 else wall
    layers["trace.overhead_s"] = traced_wall - untraced
    print(f"## traced pass: {traced_wall:.4f} s; untraced passes around it "
          f"{untraced:.4f} s")
    for key, unit in LAYER_UNITS.items():
        _report(key, layers[key], unit, 1)
    for q, sp in spans.items():
        print(f"span {q}: " + " ".join(f"{k}={v:.4f}" for k, v in sp.items()))
    # wall_s and rows_per_s ride along with the per-layer metrics, unbounded
    metrics = {"wall_s": (wall, "s"), "rows_per_s": (rows / wall, "rows/s")}
    metrics.update((k, (layers[k], u)) for k, u in LAYER_UNITS.items())
    return metrics, run


def _result(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description="fugue_spark benchmark")
    ap.add_argument("--workload", choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload once on a small dataset")
    ap.add_argument("--data", help="dataset directory for --smoke")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    if not _checkout_ok():
        print("perfbench: fugue_spark/ and scripts/make_sf1.py must sit next to "
              "perfbench/ (run it from a full checkout)", file=sys.stderr)
        return 2

    _confine()
    sys.path.insert(0, REPO)
    w0 = weather()
    print(f"# weather start: loadavg {w0['loadavg']} steal {w0['steal_pct']}%")
    if args.smoke:
        data_dir = args.data or _smoke_dataset()
    else:
        data_dir = _dataset(args.seed)
    _log(f"dataset ready: {data_dir}")

    t0 = time.perf_counter()
    spark = _start_spark()
    runs = []
    try:
        from fugue_spark.session import tune_for_input

        tune_for_input(spark, data_dir)
        _log(f"spark started in {time.perf_counter() - t0:.2f}s")
        if args.smoke:
            t_setup = t0  # Spark's start counts toward the first workload only
            for workload in WORKLOADS:
                runs.append(run_workload(spark, workload, data_dir, 0.0, True, t_setup)[1])
                t_setup = time.perf_counter()
            metrics: dict = {}
        else:
            metrics, run = run_workload(spark, args.workload, data_dir, args.seconds,
                                        bool(args.trace), t0)
            runs.append(run)
    finally:
        _stop_spark(spark)
    w1 = weather(since=w0["jiffies"])
    print(f"# weather end: loadavg {w1['loadavg']} steal over the run {w1['steal_pct']}%")
    failures = [f for r in runs for f in r.failures]
    for f in failures:
        print(f"# failure: {f}")
    attempted = sum(r.attempted for r in runs)
    # a failed run's numbers are not comparable, so it reports none
    print(_result(not failures, attempted, len(failures), {} if failures else metrics))
    return 1 if failures else 0


def _smoke_dataset() -> str:
    """An sf0.01-shaped dataset: a tenth of the base, one replica."""
    return generate(os.path.join(WORK, "data", "smoke-sf0.01"), 0, 1, fraction=0.1)


if __name__ == "__main__":
    sys.exit(main())
