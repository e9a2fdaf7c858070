#!/usr/bin/env python3
"""The repository benchmark: one closed-loop workload per process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (one caller, ``local[<cpus>]``):

- ``udf_queries``: ``fn(spark, sf).count()`` then ``clearCache()`` for
  each entry of ``membership.UDF_QUERIES`` (plans with a pandas/Arrow
  Python operator).
- ``flow_run``: on a seeded generated project (``flowgen``):
  ``FalSpark(project, spark)`` + ``run(threads=cpus, full_refresh=True)``,
  then ``test()``, then an incremental ``run()``. One of its models
  drains a stream through the streaming module.
- ``sql_queries`` (the Python-free control over ``membership.SQL_QUERIES``)
  and ``stream_drain`` (every ``st_*`` entry, each draining its stream
  into a memory sink) follow the query protocol. They run by name but
  BENCHMARK.json does not schedule them: its run budget holds two
  workloads of about a minute per cold run.

A run makes its inputs (``datagen``, fixed data seed; cached under
``.perfbench/`` in the checkout together with the DuckDB oracle
results, keyed by digests of the generator's source and of each oracle
SQL), starts the session, then times whole passes over the workload:
the number of passes is ``seconds / NOMINAL_PASS_S`` rounded, at least
one, so every run of a workload does the same work. Query passes run in
the frozen membership order, so each entry's cold-start cost lands on
the same operation in every run; ``--seed`` generates the flow project.
Correctness is checked outside the timed regions: every query and
stream output against its oracle (row count, then full order-insensitive
values with ``tools/check.py``'s FP tolerance), and for ``flow_run``
every model status, data test, table (read back by DuckDB, against
DuckDB's expected rows), after-script marker and the warehouse's table
versions.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``
holding the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). The line before it holds every figure of the run, per
workload and per layer, with the environment. Each run works in a fresh
directory under ``.perfbench/`` that is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import re
import resource
import shutil
import statistics
import sys
import time
import traceback

T_PROC = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

WORKLOADS = ("sql_queries", "udf_queries", "stream_drain", "flow_run")
# timed seconds of one cold pass on 4 cores; only sets the pass count
NOMINAL_PASS_S = {"sql_queries": 40, "udf_queries": 26, "stream_drain": 29, "flow_run": 35}
# entry run once on the 1%-scale data during set-up, so the engine's
# first-use costs for the workload's operator kind (Python workers,
# streaming engine and state store) land in setup_s rather than in
# whichever operation runs first
WARMUP = {"udf_queries": "p_sentiment_batch_inference", "stream_drain": "st_hourly_stream"}
E2E_METRICS = {"setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s"}
# per-layer metrics every workload produces (the final line of --trace 1);
# the detail line carries the workload-specific ones as well
LAYER_METRICS = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.cpu_share": "ratio",
    "spark.gc_ms": "ms",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "python.rows_returned": "count",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows_total": "count",
    "materialize.calls": "count",
    "materialize.files_written": "count",
    "materialize.files_live": "count",
    "operators.build_jobs": "count",
    "sources.load_jobs": "count",
}


def cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb() -> int:
    """Driver heap: a third of the host's memory, at most 4 GiB (the
    session default of 16g does not fit small hosts)."""
    total_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(1024, min(4096, total_kb // 1024 // 3))


def tail_percentile(n: int) -> int:
    """Highest integer percentile with at least ten samples beyond it.
    Below twenty samples no percentile from the median up has ten
    beyond it, and the median (50) is used."""
    return max(50, int(100 - 1000 / n))


def percentile(values: list[float], p: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        return {"median": values[0] if values else None, "n": len(values)}
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return {"median": q2, "q1": q1, "q3": q3, "n": len(values)}


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def child_pids(pid: int) -> set[int]:
    """Every live descendant of ``pid``."""
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parents.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in parents.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            try:
                size += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return files, size


def max_versions(warehouse: str) -> int:
    """Most version directories (``<table>`` plus ``<table>__v<hex8>``)
    any one table holds in the warehouse."""
    counts: dict[str, int] = {}
    for db in os.listdir(warehouse) if os.path.isdir(warehouse) else []:
        db_dir = os.path.join(warehouse, db)
        for d in os.listdir(db_dir) if os.path.isdir(db_dir) else []:
            if os.path.isdir(os.path.join(db_dir, d)):
                base = re.sub(r"__v[0-9a-f]{8}$", "", d)
                counts[(db, base)] = counts.get((db, base), 0) + 1
    return max(counts.values(), default=0)


def digest(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()[:16]


def oracle_rows(data_dir: str, names: list[str]) -> dict[str, tuple[list, list]]:
    """DuckDB oracle results ``(columns, rows)`` for ``names``, in the
    row form ``tools/check.py`` compares. Cached beside the data (whose
    directory is named after the generator's source), one file per entry
    named after a digest of its oracle SQL, so a changed oracle is
    recomputed."""
    from dbt_fal_spark.registry import all_queries

    specs = all_queries()
    cache_dir = data_dir + "-oracle"
    os.makedirs(cache_dir, exist_ok=True)
    out, missing = {}, {}
    for name in names:
        path = os.path.join(cache_dir, f"{name}-{digest(specs[name].oracle.encode())}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                out[name] = pickle.load(fh)
        else:
            missing[name] = path
    if missing:
        import duckdb
        from check import pandas_rows

        from dbt_fal_spark.sources.readers import TESTDATA_TABLES

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name, path in missing.items():
            res = con.execute(specs[name].oracle)
            out[name] = ([d[0] for d in res.description], pandas_rows(res.df()))
            tmp = f"{path}.tmp{os.getpid()}"
            with open(tmp, "wb") as fh:
                pickle.dump(out[name], fh)
            os.replace(tmp, path)
    return out


def same_rows(cols_a, rows_a, cols_b, rows_b) -> bool:
    from check import rows_close, table_digest

    return table_digest(cols_a, rows_a) == table_digest(cols_b, rows_b) or rows_close(
        cols_a, rows_a, cols_b, rows_b
    )


class Run:
    """State of one benchmark run."""

    def __init__(self, args, data_dir: str, warm_dir: str, prep_s: float) -> None:
        self.args = args
        self.data_dir = data_dir
        self.warm_dir = warm_dir
        self.prep_s = prep_s
        self.trace = bool(args.trace)
        self.cpus = cpus()
        self.heap_mb = heap_mb()
        self.failures: list[str] = []
        self.attempted = 0
        self.latencies: list[float] = []
        self.timed_wall = 0.0
        self.windows: list[tuple[float, float, str]] = []
        self.detail: dict = {}
        self.session_start_s = 0.0
        self.tracer = None
        self.listener = None
        self.spark = None
        self.jvm = None
        self.t_first_op = None
        self.check_s = 0.0

    # -- session -----------------------------------------------------------
    def start_session(self, **conf) -> None:
        from dbt_fal_spark.session import get_spark

        conf.update({
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.abspath('tmp')}",
        })
        if self.trace:
            os.makedirs("eventlog", exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.abspath("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.time()
        self.spark = get_spark("perfbench", sf_dir=self.data_dir, **conf)
        self.session_start_s = time.time() - t
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc
        # first-job warm-up: JVM class loading that every later job reuses
        self.spark.range(1).count()

    def boot_python_workers(self) -> None:
        """Hold one pandas task per core at once, so every Python worker
        the workload reuses starts (and imports pandas and Arrow) during
        set-up rather than in the first timed operation."""

        def hold(batches):
            import time

            time.sleep(0.5)
            yield from batches

        self.spark.range(0, self.cpus, 1, self.cpus).mapInPandas(hold, "id long").count()

    def environment(self) -> dict:
        get = self.spark.conf.get
        return {
            "cpus": self.cpus,
            "master": self.spark.sparkContext.master,
            "profile": get("spark.dbt_fal.profile", None),
            "shuffle_partitions": get("spark.sql.shuffle.partitions"),
            "driver_heap": self.spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": self.spark.version,
            "python": sys.version.split()[0],
        }

    def peak_rss_mb(self) -> float:
        own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (own_kb + rss_kb(self.jvm.pid)) / 1024.0

    def stop(self) -> None:
        """Stop the session, the JVM and every process under it; wait
        for each to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = child_pids(self.jvm.pid)
        try:
            self.spark.stop()
        finally:
            gateway = SparkContext._gateway
            try:
                gateway.shutdown()
            except Exception:
                pass
            try:
                self.jvm.stdin.close()
            except Exception:
                pass
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 20
            while kids and time.time() < deadline:
                kids = {p for p in kids if os.path.exists(f"/proc/{p}")}
                if kids:
                    time.sleep(0.1)
            for p in kids:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            self.spark = None

    def fail(self, what: str) -> None:
        self.failures.append(what)

    # -- tracing -----------------------------------------------------------
    def install_tracer(self) -> None:
        import dbt_fal_spark.api as api
        import dbt_fal_spark.materialize as mat
        import dbt_fal_spark.plans.executor as executor
        import dbt_fal_spark.plans.node_graph as node_graph
        import dbt_fal_spark.plans.selectors as selectors
        import dbt_fal_spark.project.jinja as jinja
        import dbt_fal_spark.project.loader as loader
        import dbt_fal_spark.sources.readers as readers
        from tracing import Tracer, make_stream_listener

        t = self.tracer = Tracer()
        self.listener = make_stream_listener()
        self.spark.streams.addListener(self.listener)
        t.patch_function(loader.load_project, "project.load")
        t.patch_function(jinja.render_model_sql, "project.render")
        t.patch_method(node_graph.NodeGraph, "from_manifest", "plans.graph", classmethod_=True)
        t.patch_function(selectors.select_nodes, "plans.select")
        t.patch_function(executor.parallel_executor, "plans.executor", adopt=True)
        t.patch_function(executor._run_task, "plans.task")
        t.patch_function(
            executor._run_group, "plans.group",
            attrs=lambda g, *_: {"node": g.group_id, "deps": [d.group_id for d in g.dependencies]},
        )

        def model_kind(task, *_):
            model = task.fal.graph.node_attr(task.node, "model")
            if model.python_model is None:
                return "api.sql_model"
            interop = ((model.meta or {}).get("fal", {}) or {}).get("interop")
            return "api.pandas_model" if interop == "pandas" else "api.python_model"

        t.patch_method(api._ModelTask, "execute", model_kind)
        t.patch_method(api._ScriptTask, "execute", "api.script")
        t.patch_method(api.FalSpark, "test", "api.test")
        for fn in (mat.write_table, mat.replace_relation_atomic):
            t.patch_function(fn, "materialize.write")
        t.patch_function(mat.incremental_merge, "materialize.merge")
        t.patch_function(readers.load_table, "sources.load")

    # -- workloads ---------------------------------------------------------
    def passes(self) -> int:
        return max(1, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))

    def run_queries(self, names: list[str], oracle: dict) -> None:
        from check import pandas_rows

        from dbt_fal_spark.registry import all_queries

        specs = all_queries()
        self.start_session()
        warm = WARMUP.get(self.args.workload)
        if warm:
            self.boot_python_workers()
            specs[warm].fn(self.spark, self.warm_dir).count()
            self.spark.catalog.clearCache()
        if self.trace:
            self.install_tracer()
        sc = self.spark.sparkContext
        per_entry: dict[str, list[dict]] = {}
        self.t_first_op = time.time()
        for p in range(self.passes()):
            # frozen order: each entry's cold-start cost lands on the
            # same operation in every run
            for name in names:
                label = f"p{p}:{name}"
                self.attempted += 1
                if self.trace:
                    sc.setJobGroup(label, label)
                rec: dict = {}
                t0 = time.time()
                try:
                    df = specs[name].fn(self.spark, self.data_dir)
                    t_built = time.time()
                    if self.trace:
                        df._jdf.queryExecution().executedPlan()
                        rec["plan_s"] = time.time() - t_built
                    n = df.count()
                except Exception:
                    self.fail(f"{name}: {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
                    self.spark.catalog.clearCache()
                    continue
                t1 = time.time()
                if self.trace:
                    sc.setJobGroup(f"check:{label}", "check")
                cols, rows = oracle[name]
                if n != len(rows):
                    self.fail(f"{name}: {n} rows, oracle {len(rows)}")
                else:
                    try:
                        got = pandas_rows(df.toPandas())
                        if not same_rows(df.columns, got, cols, rows):
                            self.fail(f"{name}: values differ from the oracle")
                    except Exception:
                        self.fail(f"{name}: {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
                t2 = time.time()
                self.check_s += t2 - t1
                self.spark.catalog.clearCache()
                t3 = time.time()
                lat = (t1 - t0) + (t3 - t2)
                self.latencies.append(lat)
                self.timed_wall += lat
                self.windows.append((t0, t1, label))
                rec.update({"latency_s": lat, "build_s": t_built - t0, "t0": t0, "t_built": t_built})
                per_entry.setdefault(name, []).append(rec)
        self.per_entry = per_entry
        self.detail["check_s"] = self.check_s
        self.detail["latency_by_entry"] = {
            n: [round(r["latency_s"], 4) for r in recs] for n, recs in sorted(per_entry.items())
        }

    def run_flow(self) -> None:
        import duckdb

        import flowgen

        project = os.path.abspath("project")
        desc = flowgen.generate(self.args.seed, project, self.data_dir)
        markers = os.path.abspath("markers")
        os.makedirs(markers)
        os.environ[flowgen.MARKER_ENV] = markers
        self.start_session(**{"spark.scheduler.mode": "FAIR"})
        import dbt_fal_spark.api as api

        if self.trace:
            self.install_tracer()
        task_walls: list[float] = []
        # per-model latency: the wall of each model task the executor runs
        model_execute = api._ModelTask.execute

        def timed_execute(task, context):
            t = time.time()
            try:
                return model_execute(task, context)
            finally:
                task_walls.append(time.time() - t)

        api._ModelTask.execute = timed_execute
        warehouse = os.path.abspath("spark-warehouse")
        walls: dict[str, list[float]] = {"run": [], "test": [], "rerun": []}
        hygiene: list[dict] = []
        n_models = len(desc["models"])
        self.t_first_op = time.time()
        fal = None
        for p in range(self.passes()):
            for step in ("run", "test", "rerun"):
                t0 = time.time()
                try:
                    if step == "run":
                        fal = api.FalSpark(project, self.spark)
                        result = fal.run(threads=self.cpus, full_refresh=True)
                    elif step == "test":
                        result = fal.test()
                    else:
                        result = fal.run(threads=self.cpus)
                except Exception:
                    result = None
                    self.fail(f"{step}: {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
                t1 = time.time()
                walls[step].append(t1 - t0)
                self.timed_wall += t1 - t0
                self.windows.append((t0, t1, f"p{p}:{step}"))
                if step == "test":
                    tests = result or []
                    self.attempted += len(tests)
                    for r in tests:
                        if r.get("status") != "tested" or r.get("violations"):
                            self.fail(f"test {r.get('test')}: {r.get('status')} {r.get('violations', r.get('error'))}")
                else:
                    self.attempted += n_models
                    for node, status in (result or {}).items():
                        if status != "success":
                            self.fail(f"{step} {node}: {status}")
                    if result is not None and len(result) != n_models:
                        self.fail(f"{step}: {len(result)} of {n_models} models ran")
                files, size = dir_stats(warehouse)
                hygiene.append({"op": f"p{p}:{step}", "files": files, "bytes": size,
                                "max_versions": max_versions(warehouse)})
        api._ModelTask.execute = model_execute
        self.latencies = task_walls
        # correctness, outside the timed regions: each table's live files
        # read by DuckDB against the DuckDB expected rows
        from check import pandas_rows

        con = duckdb.connect()
        expected = flowgen.duckdb_expected(con, project, desc, self.data_dir)
        counts = {}
        for name, (cols, rows) in expected.items():
            self.attempted += 1
            try:
                files = [re.sub(r"^file:", "", f)
                         for f in self.spark.table(f"{fal.schema}.{name}").inputFiles()]
                res = con.execute("SELECT * FROM read_parquet(?)", [files])
                got_cols = [d[0] for d in res.description]
                got = pandas_rows(res.df())
                counts[name] = len(got)
                if not same_rows(got_cols, got, cols, rows):
                    self.fail(f"table {name}: differs from DuckDB ({len(got)} vs {len(rows)} rows)")
            except Exception:
                self.fail(f"table {name}: {traceback.format_exc(limit=2).strip().splitlines()[-1]}")
        for name in desc["after_scripts"]:
            self.attempted += 1
            path = os.path.join(markers, f"{name}.txt")
            got = open(path).read().strip() if os.path.exists(path) else None
            if got != str(counts.get(name)):
                self.fail(f"after-script {name}: marker {got}, table {counts.get(name)} rows")
        # warehouse hygiene: a replaced table keeps its live and previous
        # version only, and test() writes nothing
        for prev, h in zip(hygiene, hygiene[1:]):
            self.attempted += 1
            if h["op"].endswith(":test") and h["files"] != prev["files"]:
                self.fail(f"test() changed the warehouse: {prev['files']} -> {h['files']} files")
            if h["max_versions"] > 2:
                self.fail(f"a table holds {h['max_versions']} versions after {h['op']}")
        self.flow = {"walls": walls, "hygiene": hygiene, "n_models": n_models}

    # -- metrics -----------------------------------------------------------
    def end_to_end(self) -> dict:
        lat = self.latencies
        p = tail_percentile(len(lat))
        out = {
            "setup_s": (self.t_first_op - T_PROC) - self.prep_s,
            "queries_per_s": len(lat) / self.timed_wall,
            "query_p50_s": statistics.median(lat),
            "query_tail_s": percentile(lat, p),
        }
        self.detail["query_tail"] = {"percentile": p, "samples": len(lat)}
        self.detail["peak_rss_mb"] = self.peak
        if self.args.workload == "flow_run":
            w = self.flow["walls"]
            out["flow_run_s"] = quartiles(w["run"])
            out["flow_rerun_s"] = quartiles(w["rerun"])
            out["flow_test_s"] = quartiles(w["test"])
            out["models_per_s"] = self.flow["n_models"] / statistics.median(w["run"])
            out["warehouse"] = self.flow["hygiene"]
        return out

    def layer_metrics(self) -> dict:
        import glob

        from tracing import Windows, count_in, critical_path, layer_totals, read_event_log

        spans = self.tracer.closed()
        totals = layer_totals(spans)
        m: dict = {"session.start_s": self.session_start_s, "process.peak_rss_mb": self.peak}

        def wall(name):
            return totals.get(name, {}).get("wall_s", 0.0)

        for name in ("project.load", "project.render", "plans.graph", "plans.select",
                     "plans.executor", "api.sql_model", "api.python_model", "api.pandas_model",
                     "api.script", "api.test", "sources.load"):
            m[f"{name}_s"] = wall(name)
        m["plans.task_busy_s"] = sum(s["end"] - s["start"] for s in spans if s["name"] == "plans.task")
        m["plans.concurrency"] = m["plans.task_busy_s"] / m["plans.executor_s"] if m["plans.executor_s"] else 0.0
        crit = 0.0
        for i, s in enumerate(spans):
            if s["name"] == "plans.executor":
                groups = [{"id": g["node"], "wall": g["end"] - g["start"], "deps": g["deps"]}
                          for g in spans if g["name"] == "plans.group" and g["parent"] == i]
                crit += critical_path(groups)
        m["plans.critical_path_s"] = crit
        m["materialize.write_s"] = wall("materialize.write")
        m["materialize.merge_s"] = wall("materialize.merge")
        m["materialize.calls"] = sum(totals.get(n, {}).get("calls", 0) for n in ("materialize.write", "materialize.merge"))
        m["materialize.files_live"] = self.flow["hygiene"][-1]["files"] if hasattr(self, "flow") else 0
        # event log: everything inside the timed operations' windows
        logs = glob.glob(os.path.join("eventlog", "*"))
        windows = Windows(self.windows)
        by_op, submits = read_event_log(logs[0], windows) if logs else ({}, [])
        spark_keys = ("spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_ms",
                      "spark.executor_cpu_ms", "spark.gc_ms", "spark.input_bytes",
                      "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
                      "spark.output_bytes", "python.bytes_sent", "python.bytes_returned",
                      "python.rows_returned", "python.boot_ms", "python.init_ms", "python.run_ms",
                      "materialize.files_written", "materialize.bytes_written")
        for k in spark_keys:
            m[k] = sum(rec.get(k, 0.0) for rec in by_op.values())
        m["spark.cpu_share"] = m["spark.executor_cpu_ms"] / m["spark.executor_run_ms"] if m["spark.executor_run_ms"] else 0.0
        load_spans = [(s["start"], s["end"]) for s in spans if s["name"] == "sources.load"]
        m["sources.load_jobs"] = count_in(submits, load_spans)
        build_jobs, build_s, plan_s = {}, 0.0, 0.0
        for name, recs in getattr(self, "per_entry", {}).items():
            build_jobs[name] = count_in(submits, [(r["t0"], r["t_built"]) for r in recs])
            build_s += sum(r["build_s"] for r in recs)
            plan_s += sum(r.get("plan_s", 0.0) for r in recs)
        m["operators.build_s"] = build_s
        m["operators.build_jobs"] = sum(build_jobs.values())
        m["spark.plan_s"] = plan_s
        stream = self.listener.totals() if self.listener else {}
        for k in ("streaming.batches", "streaming.input_rows", "streaming.state_rows_total",
                  "streaming.state_memory_bytes", "streaming.trigger_ms"):
            m[k] = stream.get(k, 0)
        self.detail["operators.build_jobs_by_entry"] = dict(sorted(build_jobs.items()))
        self.detail["spark_by_op"] = {k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in sorted(by_op.items())}
        self.detail["spans"] = len(spans)
        # per span name: wall minus the part of it the child spans cover
        self.detail["self_s"] = {k: v["self_s"] for k, v in sorted(totals.items())}
        return m


def prepare() -> tuple[str, str, float]:
    """The sf0.1 tables and their 1%-scale copy for warm-up."""
    import datagen

    t = time.time()
    os.makedirs(STATE, exist_ok=True)
    with open(datagen.__file__, "rb") as fh:
        tag = digest(fh.read())
    data = datagen.write(os.path.join(STATE, f"data-{tag}"))
    warm = datagen.write(os.path.join(STATE, f"data-{tag}-warm"), scale=0.01)
    return data, warm, time.time() - t


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    for rel in ("dbt_fal_spark/__init__.py", "tools/check.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            print(f"perfbench: {rel} is missing; run from a checkout of the repository", file=sys.stderr)
            return 2
    try:
        import check  # noqa: F401  (tools/check.py: the oracle comparison)
        import dbt_fal_spark  # noqa: F401
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2

    data_dir, warm_dir, prep_s = prepare()
    for stale in os.listdir(STATE):  # left by a run that was killed
        if stale.startswith("work-") and not os.path.exists(f"/proc/{stale[5:]}"):
            shutil.rmtree(os.path.join(STATE, stale), ignore_errors=True)
    work = os.path.join(STATE, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "local"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    cwd = os.getcwd()
    os.chdir(work)
    run = Run(args, data_dir, warm_dir, prep_s)
    try:
        if args.workload == "flow_run":
            run.run_flow()
        else:
            import membership

            names = {"sql_queries": membership.SQL_QUERIES, "udf_queries": membership.UDF_QUERIES,
                     "stream_drain": membership.STREAM_QUERIES}[args.workload]
            t = time.time()
            oracle = oracle_rows(data_dir, list(names))
            run.prep_s += time.time() - t
            run.run_queries(list(names), oracle)
        run.peak = run.peak_rss_mb()
        env = run.environment()
        if args.trace:
            time.sleep(0.5)  # let the listener bus deliver the last streaming progress
        t_stop = time.time()
        run.stop()
        run.detail["stop_s"] = time.time() - t_stop
        e2e = run.end_to_end()
        layers = run.layer_metrics() if args.trace else {}
    finally:
        run.stop()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_METRICS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_METRICS.items()}
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": run.passes(), "environment": env, "prep_s": run.prep_s,
        "end_to_end": e2e,
        "failed_share": len(run.failures) / max(1, run.attempted),
        "failures": run.failures,
        **run.detail,
    }
    if args.trace:
        detail["layers"] = layers
    detail["process_s"] = time.time() - T_PROC
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
