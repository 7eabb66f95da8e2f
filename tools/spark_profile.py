"""Per-query profiler for the benchmark catalog: timings, the plan-build
vs execute split, per-stage metrics and the job timeline of each query,
so where a query's seconds go — which stage's CPU, or driver gaps between
jobs — is answered by measurement instead of plan-reading.

Usage:
    python tools/spark_profile.py [--sf SF_DIR] [--runs N] [--plans DIR]
                                  [--out OUT.json] [query ...]

``--sf`` defaults to ``$SPARK_GRAFT_SF_DIR``; no query names means the
whole catalog. With ``--plans DIR``, each query's formatted plan is
written to ``DIR/<query>.txt``. Metrics come from one extra run per query
inside a :class:`JobGroupMetrics` group, taken after the timing runs so
the profiling never enters the timings; every stage and job figure is
read through that class.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

if __name__ == "__main__":  # run as a script: import the checkout's package
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))

from funnel_rocket_spark import benchqueries  # noqa: E402
from funnel_rocket_spark.engine.metrics import JobGroupMetrics  # noqa: E402


def _with_gaps(jobs: list[dict]) -> list[dict]:
    """Add ``gapMs`` to each job (in submission order): the driver-only
    time between the latest earlier completion and this submission, 0
    when jobs overlap and None for the first."""
    last_done = None
    for j in jobs:
        j["gapMs"] = (None if last_done is None
                      else max(0, j["submittedMs"] - last_done))
        last_done = max(last_done or 0, j["completedMs"])
    return jobs


def profile(spark, sf: str, names: list[str], runs: int = 3,
            plans_dir: str | None = None) -> dict:
    """Profile each named catalog query at ``sf``: min of ``runs`` timed
    collects, then one run inside a job group for the build/execute split,
    stage rows and job timeline. Prints one summary line per query and
    returns ``{query: record}``."""
    sc = spark.sparkContext
    all_q = {**benchqueries.queries(), **benchqueries.BENCH_VARIANTS}
    report: dict[str, dict] = {}
    for name in names:
        if name not in all_q:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        fn = all_q[name]
        samples = []
        try:
            for _ in range(runs):
                t0 = time.perf_counter()
                fn(spark, sf).collect()
                samples.append(round(time.perf_counter() - t0, 4))
                spark.catalog.clearCache()
                sc._jvm.System.gc()
            with JobGroupMetrics(spark, f"profile:{name}") as jm:
                t0 = time.perf_counter()
                df = fn(spark, sf)
                t_build = time.perf_counter() - t0
                df.collect()
                t_total = time.perf_counter() - t0
                snap = jm.snapshot()
                jobs = _with_gaps(jm.job_intervals())
            if plans_dir:
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            spark.catalog.clearCache()
            sc._jvm.System.gc()
        except Exception as e:
            report[name] = {"error": str(e)[:300]}
            print(f"{name}: ERROR {e}", file=sys.stderr)
            continue
        w, inv = snap["worker"], snap["invoker"]
        gaps = round(sum(j["gapMs"] or 0 for j in jobs) / 1000.0, 3)
        min_s = min(samples)
        report[name] = {
            "min_s": min_s, "runs": samples,
            "build_s": round(t_build, 3),
            "profiled_total_s": round(t_total, 3),
            "job_gaps_s": gaps,
            "jobs": inv["jobs"], "stages": inv["stages"],
            "tasks": inv["totalTasks"],
            "scanned_rows": w["scannedRows"],
            "shuffle_write_mb": round(w["shuffleWriteBytes"] / 1e6, 2),
            "exec_run_s": round(w["executorRunSeconds"], 2),
            "exec_cpu_s": round(w["executorCpuSeconds"], 2),
            "stage_rows": jm.stages,
            "job_timeline": jobs,
        }
        top = sorted(jm.stages, key=lambda s: -(s["wallSeconds"] or 0))[:3]
        tops = "; ".join(
            f"s{s['stage']} {s['wallSeconds']}s/{s['tasks']}t "
            f"{s['name'][:40]}" for s in top)
        print(f"{name}: min={min_s:.3f}s build={t_build:.3f}s "
              f"gaps={gaps}s jobs={inv['jobs']} "
              f"tasks={inv['totalTasks']} | {tops}")
    return report


def main() -> None:
    from funnel_rocket_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="scale-factor directory (default "
                         "$SPARK_GRAFT_SF_DIR)")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None, metavar="DIR",
                    help="write each query's formatted plan to DIR/<q>.txt")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    if not args.sf:
        ap.error("--sf is required when SPARK_GRAFT_SF_DIR is unset")

    spark = get_spark(app_name="frs-profile")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        # untimed warm-up: JIT, catalog and file-listing caches
        benchqueries.queries()["fr_empty_query"](spark, args.sf).collect()
    except Exception:
        pass
    names = args.queries or list({**benchqueries.queries(),
                                  **benchqueries.BENCH_VARIANTS})
    report = profile(spark, args.sf, names, args.runs, args.plans)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
