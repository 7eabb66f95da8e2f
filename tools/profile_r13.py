"""Round-13 optimization profiler: per-query timings and plans plus a
PER-STAGE breakdown and a job timeline, so the round's question — where
do the remaining seconds of each top query go: which stage's CPU, or
driver gaps between jobs — is answered by measurement instead of plan-reading.

Usage:
    python tools/profile_r13.py [--sf SF_DIR] [--runs N] [--plans TAG]
                                [--out OUT.json] [query ...]

With --plans TAG, each query's formatted plan is written to
plans/r13/<query>_<TAG>.txt. Metrics come from one extra profiled run per
query (run AFTER the timing runs so the listener work never contaminates
the timings).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from funnel_rocket_spark import benchqueries
from funnel_rocket_spark.engine.metrics import JobGroupMetrics
from funnel_rocket_spark.session import get_spark


def _stage_rows(sc, stage_ids) -> list[dict]:
    """Per-stage metrics from the AppStatusStore (same reflective path as
    JobGroupMetrics._fill_from_status_store; degrades to [] if plumbing
    moved)."""
    rows: list[dict] = []
    try:
        store = sc._jsc.sc().statusStore()
        defaults = [getattr(store, f"stageAttempt$default${i}")()
                    for i in (3, 4, 5, 6)]
        for sid in sorted(stage_ids):
            try:
                data = store.stageAttempt(int(sid), 0, *defaults)._1()
            except Exception:
                continue  # skipped stage
            try:
                first = data.firstTaskLaunchedTime().get().getTime()
                done = data.completionTime().get().getTime()
                wall = round((done - first) / 1000.0, 3)
            except Exception:
                wall = None
            rows.append({
                "stage": int(sid),
                "name": str(data.name())[:80],
                "tasks": data.numCompleteTasks(),
                "wall_s": wall,
                "run_s": round(data.executorRunTime() / 1000.0, 3),
                "cpu_s": round(data.executorCpuTime() / 1e9, 3),
                "in_rows": data.inputRecords(),
                "sh_r_mb": round(data.shuffleReadBytes() / 1e6, 2),
                "sh_w_mb": round(data.shuffleWriteBytes() / 1e6, 2),
                "spill_mb": round(data.diskBytesSpilled() / 1e6, 1),
            })
    except Exception:
        pass
    return rows


def _job_timeline(sc, group_id) -> list[dict]:
    """(submission, completion) per job in the group — the gaps between
    one job's completion and the next's submission are pure driver time."""
    out: list[dict] = []
    try:
        store = sc._jsc.sc().statusStore()
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            try:
                gid = j.jobGroup().get() if j.jobGroup().isDefined() else None
            except Exception:
                gid = None
            if gid != group_id:
                continue
            try:
                sub = j.submissionTime().get().getTime()
                comp = (j.completionTime().get().getTime()
                        if j.completionTime().isDefined() else None)
            except Exception:
                continue
            out.append({"job": j.jobId(), "sub_ms": sub, "done_ms": comp})
        out.sort(key=lambda r: r["sub_ms"])
        # derive driver gaps
        prev_done = None
        for r in out:
            r["gap_ms"] = (r["sub_ms"] - prev_done
                           if prev_done is not None else None)
            prev_done = r["done_ms"] or prev_done
    except Exception:
        pass
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plans", default=None,
                    help="dump plans/r13/<q>_<TAG>.txt per query")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = get_spark(app_name="frs-profile-r13")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    all_q = benchqueries.queries()
    all_q.update(getattr(benchqueries, "BENCH_VARIANTS", {}))
    names = args.queries or list(all_q)
    plans_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", "r13")

    try:
        all_q["fr_empty_query"](spark, args.sf).collect()
    except Exception:
        pass

    report: dict[str, dict] = {}
    for name in names:
        if name not in all_q:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        fn = all_q[name]
        samples = []
        try:
            for _ in range(args.runs):
                t0 = time.perf_counter()
                rows = fn(spark, args.sf).collect()
                _ = len(rows)
                samples.append(round(time.perf_counter() - t0, 4))
                spark.catalog.clearCache()
                sc._jvm.System.gc()
            # build/exec split + one profiled run (excluded from timing)
            sc.setJobDescription(f"profile:{name}")
            with JobGroupMetrics(spark, f"profile:{name}") as jm:
                t0 = time.perf_counter()
                df = fn(spark, args.sf)
                t_build = time.perf_counter() - t0
                df.collect()
                t_total = time.perf_counter() - t0
                snap = jm.snapshot()
                tracker = sc.statusTracker()
                stage_ids = set()
                for j in tracker.getJobIdsForGroup(jm.group_id):
                    info = tracker.getJobInfo(j)
                    if info is not None:
                        stage_ids.update(info.stageIds)
                stages = _stage_rows(sc, stage_ids)
                jobs = _job_timeline(sc, jm.group_id)
            if args.plans:
                os.makedirs(plans_dir, exist_ok=True)
                with open(os.path.join(
                        plans_dir, f"{name}_{args.plans}.txt"), "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            spark.catalog.clearCache()
            sc._jvm.System.gc()
        except Exception as e:
            report[name] = {"error": str(e)[:300]}
            print(f"{name}: ERROR {e}", file=sys.stderr)
            continue
        w = snap.get("worker", {})
        inv = snap.get("invoker", {})
        gaps = round(sum(j["gap_ms"] or 0 for j in jobs) / 1000.0, 3)
        report[name] = {
            "min_s": min(samples), "runs": samples,
            "build_s": round(t_build, 3),
            "profiled_total_s": round(t_total, 3),
            "job_gaps_s": gaps,
            "jobs": inv.get("jobs"), "stages": inv.get("stages"),
            "tasks": inv.get("totalTasks"),
            "scanned_rows": w.get("scannedRows"),
            "shuffle_write_mb": round(w.get("shuffleWriteBytes", 0) / 1e6, 2),
            "exec_run_s": round(w.get("executorRunSeconds", 0), 2),
            "exec_cpu_s": round(w.get("executorCpuSeconds", 0), 2),
            "stage_rows": stages,
            "job_timeline": jobs,
        }
        top = sorted(stages, key=lambda s: -(s["wall_s"] or 0))[:3]
        tops = "; ".join(
            f"s{s['stage']} {s['wall_s']}s/{s['tasks']}t {s['name'][:40]}"
            for s in top)
        print(f"{name}: min={min(samples):.3f}s build={t_build:.3f}s "
              f"gaps={gaps}s jobs={inv.get('jobs')} "
              f"tasks={inv.get('totalTasks')} | {tops}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
