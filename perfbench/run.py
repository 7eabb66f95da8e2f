#!/usr/bin/env python3
"""Repository benchmark: seeded workloads, answers checked, one JSON line.

    python3 perfbench/run.py --workload {funnel,operators} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, computes every expected answer in DuckDB, starts Spark on
``local[N]`` (N = usable cores), sets up, then runs whole passes over the
workload's query list in a seeded order, one request at a time (closed
loop, one client): at least two passes, more until ``--seconds`` have
passed. The last stdout line
is ``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics from spans with ``--trace 1``.
Everything it writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import workloads

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# metric name -> unit; BENCHMARK.json declares the same names and units
E2E_UNITS = {
    "setup_s": "s", "register_s": "s", "query_p50_s": "s",
    "queries_per_s": "1/s", "peak_rss_mb": "MB",
}
FAMILIES = tuple(workloads.OPERATOR_FAMILIES)
LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.register_s": "s", "catalog.register_jobs": "count",
    "catalog.register_scanned_bytes": "bytes",
    "api.self_s": "s", "api.dataset_load_s": "s", "api.uncovered_s": "s",
    "validation.expand_s": "s", "planner.build_s": "s",
    "planner.routed_segmented": "count",
    "engine.run_s": "s", "engine.jobs": "count", "engine.stages": "count",
    "engine.tasks": "count", "engine.spark_busy_s": "s",
    "engine.driver_gap_s": "s", "engine.scan_passes": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.max_task_s": "s", "spark.scanned_bytes": "bytes",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.failed_tasks": "count",
    **{f"operators.{f}.{m}": u for f in FAMILIES
       for m, u in (("run_s", "s"), ("jobs", "count"),
                    ("shuffle_write_bytes", "bytes"))},
    "trace.overhead_share": "ratio",
    "run.requests": "count",
}


WARMUP_ROUNDS = 2
REGISTRATIONS = 5


class SetupError(RuntimeError):
    """Set-up failed: no result can be reported."""


# --------------------------------------------------------------------------- #
# host facts


def _jvm_pids() -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/comm") as fh:
                    if fh.read().strip() == "java":
                        pids.append(int(p))
            except OSError:
                continue
    return pids


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: host speed at this moment."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return time.perf_counter() - t0


def host_fingerprint(own_jvm: int | None, local_n: int) -> dict:
    """Load, competing JVMs and a speed probe, so a contended or slowed
    host shows in the run's own output."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"loadavg_1m": load1,
            "other_jvms": len([p for p in _jvm_pids() if p != own_jvm]),
            "cpu_probe_s": round(cpu_probe_s(), 4),
            "nproc": os.cpu_count(), "local_n": local_n}


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise SetupError(f"no VmHWM for pid {pid}")


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------------------- #
# the run


class Run:
    """State of one benchmark process: work directory, Spark, tracer."""

    def __init__(self, args):
        self.args = args
        self.local_n = len(os.sched_getaffinity(0))
        self.work = os.path.join(ROOT, ".perfbench",
                                 f"work-{args.workload}-{os.getpid()}")
        self.out_dir = os.path.join(ROOT, ".perfbench", "out")
        self.spark = None
        self.jvm = None
        self.tracer = None
        self.timings: dict[str, float] = {}
        self.records: list[dict] = []   # one per traced request
        self.samples: list[tuple[str, float]] = []  # (query, seconds)
        os.makedirs(os.path.join(self.work, "tmp"), exist_ok=True)
        os.makedirs(self.out_dir, exist_ok=True)

    # -- Spark ------------------------------------------------------------- #

    def start_spark(self) -> None:
        from funnel_rocket_spark import session

        tmp = os.path.join(self.work, "tmp")
        conf = {
            # deployment settings only: a bounded heap on a shared host,
            # no console progress bars, every scratch file in the checkout
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{self.local_n}]",
            shuffle_partitions=self.local_n, extra_conf=conf)
        self.timings["session_start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc

    def stop(self) -> None:
        if self.spark is not None:
            try:
                self.spark.stop()
            finally:
                self.spark.sparkContext._gateway.shutdown()
        if self.jvm is not None:
            self.jvm.terminate()
            try:
                self.jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.jvm.kill()
                self.jvm.wait()
        shutil.rmtree(self.work, ignore_errors=True)

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.jvm.pid)

    # -- tracing ----------------------------------------------------------- #

    def install_tracing(self) -> None:
        import funnel_rocket_spark.api as api_mod
        import funnel_rocket_spark.catalog as catalog_mod
        import funnel_rocket_spark.engine.engine as engine_mod
        import funnel_rocket_spark.engine.metrics as metrics_mod
        from funnel_rocket_spark import session

        t = self.tracer
        t.wrap(session, "get_spark", "session.start")
        t.wrap(api_mod, "register_dataset", "catalog.register")
        t.wrap(catalog_mod, "register_dataset", "catalog.register")
        t.wrap(catalog_mod.Dataset, "load", "api.dataset_load")
        t.wrap(engine_mod, "expand_and_validate", "validation.expand")
        t.wrap(engine_mod, "QueryPlan", "planner.build")
        t.wrap(engine_mod.QueryEngine, "plan", "engine.plan")
        t.wrap(engine_mod.QueryEngine, "run", "engine.run")
        t.capture_job_groups(metrics_mod)

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.installed

    def job_group(self, description: str):
        from funnel_rocket_spark.engine.metrics import JobGroupMetrics

        return JobGroupMetrics(self.spark, description)

    @contextlib.contextmanager
    def traced_register(self, name: str, kind: str = "register"):
        """Tag a registration's Spark jobs (traced runs) and record its
        job count and scanned bytes."""
        if not self.tracing:
            yield
            return
        t0 = time.perf_counter()
        with self.job_group(f"register {name}") as jg:
            yield
        snap = jg.snapshot()
        self.records.append({"kind": kind,
                             "seconds": time.perf_counter() - t0,
                             "jobs": snap["invoker"]["jobs"],
                             "scanned_bytes": snap["worker"]["scannedBytes"]})

    # -- loop -------------------------------------------------------------- #

    def warm_up(self, names: list[str], request) -> None:
        """Run every query WARMUP_ROUNDS times before timing, each round
        concurrently on one thread per core: the first round compiles
        each query's code paths, later rounds let the JIT settle. Both
        are CPU work that parallelizes, so rounds cost little wall time."""
        with ThreadPoolExecutor(self.local_n) as pool:
            for _ in range(WARMUP_ROUNDS):
                for f in [pool.submit(request, n, False) for n in names]:
                    f.result()

    def passes(self, names: list[str], request) -> tuple[list[float], float]:
        """Whole passes over ``names``, each in a seeded order, one request
        at a time: at least two, then more until the run's seconds are
        used. Returns latencies and timed wall seconds."""
        rng = random.Random(self.args.seed)
        lat: list[float] = []
        t0 = time.perf_counter()
        n_pass = 0
        while n_pass < 2 or time.perf_counter() - t0 < self.args.seconds:
            order = list(names)
            rng.shuffle(order)
            for name in order:
                lat.append(request(name))
                self.samples.append((name, lat[-1]))
            n_pass += 1
        return lat, time.perf_counter() - t0


def write_inputs(run: Run, tables: dict, layout: dict) -> dict:
    """Write tables as parquet; ``layout`` maps table -> part-file count
    (0 = one file named ``<table>.parquet``). Returns table -> path."""
    import datagen

    paths = {}
    for name, table in tables.items():
        if layout.get(name, 0):
            path = os.path.join(run.work, "data", name)
            datagen.write_parts(table, path, layout[name])
        else:
            import pyarrow.parquet as pq

            os.makedirs(os.path.join(run.work, "data"), exist_ok=True)
            path = os.path.join(run.work, "data", f"{name}.parquet")
            pq.write_table(table, path)
        paths[name] = path
    return paths


def duckdb_views(run: Run, paths: dict):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{os.path.join(run.work, 'duckdb')}'")
    con.execute("SET threads = 2")
    for name, path in paths.items():
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    return con


# --------------------------------------------------------------------------- #
# funnel workload


def run_funnel(run: Run, tally) -> dict:
    import check
    import datagen

    t0 = time.perf_counter()
    tables = workloads.funnel_tables(run.args.seed)
    run.timings["input_digest"] = datagen.digest(tables)
    paths = write_inputs(run, tables, {"events": workloads.FUNNEL_FILES})
    con = duckdb_views(run, paths)
    expected = {n: workloads.funnel_expected(con, n)
                for n in workloads.FUNNEL_QUERIES}
    con.close()
    n_rows = tables["events"].num_rows
    del tables
    run.timings["inputs_s"] = time.perf_counter() - t0

    t_setup = time.perf_counter()
    run.start_spark()
    from funnel_rocket_spark import api

    app = api.create_app(spark=run.spark,
                         catalog_dir=os.path.join(run.work, "catalog"))

    def post(path: str, body: dict):
        # a client per call: warm-up requests run concurrently
        return app.test_client().post(path, json=body)

    def register(ds: str, kind: str = "register") -> float:
        body = {"name": ds, "basepath": paths["events"],
                "group_id_column": "user_id", "timestamp_column": "ts"}
        with run.traced_register(ds, kind):
            t0 = time.perf_counter()
            resp = post("/datasets/register", body)
            dt = time.perf_counter() - t0
        if resp.status_code != 200:
            raise SetupError(f"register {ds}: HTTP {resp.status_code} "
                             f"{resp.get_data(as_text=True)[:300]}")
        return dt

    def query(name: str, rec: bool = True) -> float:
        tracing = run.tracing and rec
        if tracing:
            run.tracer.request = f"{name}#{len(run.records)}"
            run.tracer.job_groups.clear()
        t0 = time.perf_counter()
        try:
            with (run.tracer.span("api.request") if tracing
                  else contextlib.nullcontext()):
                resp = post("/datasets/events/query",
                            workloads.FUNNEL_QUERIES[name])
            dt = time.perf_counter() - t0
            body = resp.get_json(silent=True) or {}
            err = (f"HTTP {resp.status_code}: {body.get('errorMessage')}"
                   if resp.status_code != 200
                   else check.result_mismatch(body, expected[name]))
        except Exception as e:  # a crashed request is a counted failure
            dt, body = time.perf_counter() - t0, {}
            err = f"{type(e).__name__}: {e}"
        if rec:
            tally.record(name, err)
        if tracing:
            run.records.append(_request_record(run, name, dt, body, n_rows))
        return dt

    # set-up as a user pays it: Spark start, registration, first queries
    run.timings["register_cold_s"] = register("events", "register_cold")
    t0 = time.perf_counter()
    run.warm_up(list(workloads.FUNNEL_QUERIES), query)
    run.timings["warmup_s"] = time.perf_counter() - t0
    run.timings["setup_s"] = time.perf_counter() - t_setup
    # register_s: the median of more registrations of the same files,
    # once warm
    run.timings["register_s"] = median(
        register(f"events_{i}") for i in range(REGISTRATIONS))
    return _timed(run, list(workloads.FUNNEL_QUERIES), query)


def _request_record(run: Run, name: str, seconds: float, body: dict,
                    n_rows: int) -> dict:
    """Per-request layer facts from the spans and the result's stats."""
    from spans import job_intervals, self_time, union_length

    t = run.tracer
    req_spans = t.request_spans(t.request)
    by = {}
    for s in req_spans:
        by.setdefault(s.name, []).append(s)
    req = by["api.request"][0]
    stats = body.get("stats") or {}
    inv, wk = stats.get("invoker") or {}, stats.get("worker") or {}
    run_s = sum(s.duration for s in by.get("engine.run", []))
    busy = union_length(job_intervals(run.spark.sparkContext,
                                      list(t.job_groups)))
    return {
        "kind": "request", "query": name, "request": t.request,
        "seconds": seconds,
        "api_self_s": req.duration - run_s,
        "api_uncovered_s": self_time(req, req_spans),
        "dataset_load_s": sum(s.duration for s in by.get(
            "api.dataset_load", [])),
        "expand_s": sum(s.duration for s in by.get("validation.expand", [])),
        "build_s": sum(s.duration for s in by.get("planner.build", [])),
        "run_s": run_s, "busy_s": busy, "gap_s": run_s - busy,
        "jobs": inv.get("jobs", 0), "stages": inv.get("stages", 0),
        "tasks": inv.get("totalTasks", 0),
        "failed_tasks": inv.get("failedTasks", 0),
        "scan_passes": wk.get("scannedRows", 0) / max(n_rows, 1),
        "scanned_bytes": wk.get("scannedBytes", 0),
        "shuffle_write_bytes": wk.get("shuffleWriteBytes", 0),
        "spill_bytes": wk.get("diskSpilledBytes", 0),
        "max_task_s": (wk.get("taskTime") or {}).get("max", 0.0),
        "cpu_s": wk.get("executorCpuSeconds", 0.0),
        "gc_s": wk.get("jvmGcSeconds", 0.0),
        "routed_segmented": bool((stats.get("strategies") or {}).get(
            "autoRoutedSegmented")),
    }


# --------------------------------------------------------------------------- #
# operators workload


def run_operators(run: Run, tally) -> dict:
    import check
    import datagen
    from funnel_rocket_spark import benchqueries

    t0 = time.perf_counter()
    tables = workloads.operators_tables(run.args.seed)
    run.timings["input_digest"] = datagen.digest(tables)
    paths = write_inputs(run, tables, {})
    data_dir = os.path.dirname(paths["events"])
    con = duckdb_views(run, paths)
    oracles = benchqueries.oracle_sql()
    expected = {q: con.sql(oracles[q]).df()
                for q in workloads.OPERATOR_QUERIES}
    con.close()
    del tables
    run.timings["inputs_s"] = time.perf_counter() - t0
    catalog_fns = benchqueries.queries()
    catalog_fns.update(getattr(benchqueries, "BENCH_VARIANTS", {}))

    t_setup = time.perf_counter()
    run.start_spark()
    import pandas as pd

    def collect(name: str):
        df = catalog_fns[name](run.spark, data_dir)
        return df, df.collect()

    def query(name: str, rec: bool = True) -> float:
        jg = (run.job_group(f"perfbench {name}")
              if run.tracing and rec else None)
        t0 = time.perf_counter()
        try:
            if jg is not None:
                with jg, run.tracer.span(f"operators.{name}"):
                    df, rows = collect(name)
            else:
                df, rows = collect(name)
            dt = time.perf_counter() - t0
            got = pd.DataFrame([tuple(r) for r in rows], columns=df.columns)
            err = check.frame_mismatch(got, expected[name])
        except Exception as e:  # a crashed query is a counted failure
            dt, err = time.perf_counter() - t0, f"{type(e).__name__}: {e}"
        if rec:
            # frames one query persisted must not serve the next
            run.spark.catalog.clearCache()
            tally.record(name, err)
            if jg is not None:
                snap = jg.snapshot()
                inv, wk = snap["invoker"], snap["worker"]
                run.records.append({
                    "kind": "operator", "query": name,
                    "family": workloads.FAMILY_OF[name], "seconds": dt,
                    "jobs": inv["jobs"], "stages": inv["stages"],
                    "tasks": inv["totalTasks"],
                    "failed_tasks": inv["failedTasks"],
                    "scanned_bytes": wk["scannedBytes"],
                    "shuffle_write_bytes": wk["shuffleWriteBytes"],
                    "spill_bytes": wk["diskSpilledBytes"],
                    "max_task_s": (wk.get("taskTime") or {}).get("max", 0.0),
                    "cpu_s": wk["executorCpuSeconds"],
                    "gc_s": wk["jvmGcSeconds"]})
        return dt

    t0 = time.perf_counter()
    run.warm_up(workloads.OPERATOR_QUERIES, query)
    run.spark.catalog.clearCache()
    run.timings["warmup_s"] = time.perf_counter() - t0
    run.timings["setup_s"] = time.perf_counter() - t_setup

    from funnel_rocket_spark import catalog

    def register(ds: str) -> float:
        with run.traced_register(ds):
            t0 = time.perf_counter()
            catalog.register_dataset(run.spark, ds, data_dir, "user_id", "ts",
                                     pattern="events.parquet")
            return time.perf_counter() - t0

    run.timings["register_s"] = median(
        register(f"events_{i}") for i in range(REGISTRATIONS))
    return _timed(run, list(workloads.OPERATOR_QUERIES), query)


# --------------------------------------------------------------------------- #
# measuring and reporting


def _timed(run: Run, names: list[str], query) -> dict:
    """The timed window. A traced run brackets its traced passes with one
    untraced pass before and one after (wrappers removed), so tracing
    overhead is measured in-run and warming does not bias it."""
    if run.tracer is None:
        lat, wall = run.passes(names, query)
        run.timings["timed_s"] = wall
        return {"latencies": lat, "wall": wall}
    run.tracer.restore()
    before = {n: query(n, rec=False) for n in names}
    run.install_tracing()
    lat, wall = run.passes(names, query)
    run.tracer.restore()
    after = {n: query(n, rec=False) for n in names}
    traced = {}
    for name, seconds in run.samples:
        traced.setdefault(name, []).append(seconds)
    base = sum((before[n] + after[n]) / 2 for n in names)
    with_tracing = sum(median(traced[n]) for n in names)
    return {"latencies": lat, "wall": wall,
            "overhead_share": with_tracing / base - 1.0}


def end_to_end(run: Run, tally, timed: dict) -> dict:
    import check

    lat = timed["latencies"]
    return {
        "setup_s": run.timings["setup_s"],
        "register_s": run.timings["register_s"],
        "query_p50_s": check.percentile(lat, 50),
        "queries_per_s": tally.n_correct / timed["wall"],
        "peak_rss_mb": run.peak_rss_mb(),
    }


def per_layer(run: Run, timed: dict) -> dict:
    recs = run.records
    reqs = [r for r in recs if r["kind"] == "request"]
    ops = [r for r in recs if r["kind"] == "operator"]
    regs = [r for r in recs if r["kind"] == "register"]
    work = reqs or ops
    out = dict.fromkeys(LAYER_UNITS, 0.0)   # 0 where a layer is not used

    def med(rs, key):
        return median(r[key] for r in rs)

    out["session.start_s"] = run.timings["session_start_s"]
    out["catalog.register_s"] = med(regs, "seconds")
    out["catalog.register_jobs"] = med(regs, "jobs")
    out["catalog.register_scanned_bytes"] = med(regs, "scanned_bytes")
    if reqs:
        out.update({
            "api.self_s": med(reqs, "api_self_s"),
            "api.dataset_load_s": med(reqs, "dataset_load_s"),
            "api.uncovered_s": med(reqs, "api_uncovered_s"),
            "validation.expand_s": med(reqs, "expand_s"),
            "planner.build_s": med(reqs, "build_s"),
            "planner.routed_segmented":
                float(sum(r["routed_segmented"] for r in reqs)),
            "engine.run_s": med(reqs, "run_s"),
            "engine.jobs": med(reqs, "jobs"),
            "engine.stages": med(reqs, "stages"),
            "engine.tasks": med(reqs, "tasks"),
            "engine.spark_busy_s": med(reqs, "busy_s"),
            "engine.driver_gap_s": med(reqs, "gap_s"),
            "engine.scan_passes": med(reqs, "scan_passes"),
        })
    out.update({
        "spark.shuffle_write_bytes": med(work, "shuffle_write_bytes"),
        "spark.spill_bytes": med(work, "spill_bytes"),
        "spark.max_task_s": max((r["max_task_s"] for r in work),
                                default=0.0),
        "spark.scanned_bytes": med(work, "scanned_bytes"),
        "spark.executor_cpu_s": med(work, "cpu_s"),
        "spark.gc_s": float(sum(r["gc_s"] for r in work)),
        "spark.failed_tasks": float(sum(r["failed_tasks"] for r in work)),
    })
    for fam in FAMILIES:
        fam_recs = [r for r in ops if r["family"] == fam]
        # per pass: sum over the family's queries of each query's median
        by_query = {}
        for r in fam_recs:
            by_query.setdefault(r["query"], []).append(r)
        for metric, key in (("run_s", "seconds"), ("jobs", "jobs"),
                            ("shuffle_write_bytes", "shuffle_write_bytes")):
            out[f"operators.{fam}.{metric}"] = float(sum(
                med(rs, key) for rs in by_query.values()))
    out["trace.overhead_share"] = timed["overhead_share"]
    out["run.requests"] = float(len(timed["latencies"]))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["funnel", "operators"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "funnel_rocket_spark",
                                       "__init__.py")):
        print(f"perfbench: no funnel_rocket_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    # the package, for this process and for Spark's Python workers
    sys.path[:0] = [ROOT, BENCH_DIR]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])

    import check
    from spans import Tracer

    run = Run(args)
    # scratch files of this process, its JVMs and their Python workers stay
    # in the checkout (the JVM perf-data file would go to /tmp)
    os.environ["TMPDIR"] = os.path.join(run.work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(
        [os.environ.get("SPARK_LAUNCHER_OPTS", ""), "-XX:-UsePerfData"]).strip()
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]
    fp_start = host_fingerprint(None, run.local_n)
    tally = check.Tally()
    if args.trace:
        run.tracer = Tracer()
        run.install_tracing()
    try:
        body = {"funnel": run_funnel, "operators": run_operators}[
            args.workload]
        timed = body(run, tally)
        metrics = (per_layer(run, timed) if args.trace
                   else end_to_end(run, tally, timed))
        units = LAYER_UNITS if args.trace else E2E_UNITS
        fp_end = host_fingerprint(run.jvm.pid, run.local_n)
        report = {
            "workload": args.workload, "seed": args.seed,
            "input_digest": run.timings["input_digest"],
            "fingerprint": {"start": fp_start, "end": fp_end},
            "timings": {k: v for k, v in run.timings.items()
                        if k != "input_digest"},
            "requests": len(timed["latencies"]),
            # reported only once a run holds enough requests
            "tail_latency": check.tail_percentile(timed["latencies"]),
            **tally.summary(),
        }
    finally:
        if run.tracer is not None:
            run.tracer.restore()
        spans = ([s.as_dict() for s in run.tracer.spans]
                 if run.tracer is not None else [])
        records = run.records
        run.stop()
    out_name = (f"{args.workload}-seed{args.seed}-"
                f"{'traced' if args.trace else 'plain'}.json")
    with open(os.path.join(run.out_dir, out_name), "w") as fh:
        json.dump({**report, "metrics": metrics, "samples": run.samples,
                   "records": records, "spans": spans}, fh, indent=1)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": tally.n_failed == 0,
        "attempted": tally.attempted,
        "failed": tally.n_failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
