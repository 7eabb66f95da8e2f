"""Execution metrics for ``with_stats=True`` — reference-stats parity.

The reference returns a rich per-query stats object assembled from invoker +
worker metrics (``/root/reference/frocket/invoker/stats_builder.py:42-86``,
example ``docs/api.md:645-736``): task counts, scanned rows, timing, dataset
size, cost. On Spark the Lambda fleet collapses into one job DAG, so the
same facts live in the driver's AppStatusStore: per-stage task counts,
input rows/bytes (the scan), shuffle read/write volumes, spill, CPU/GC
time, and peak execution memory.

Collection is scoped with a JOB GROUP: ``setJobGroup`` is thread-local in
Spark, so each query's collects tag only their own jobs even when multiple
queries share one driver (the job-server scenario). Reading the status
store afterwards costs no Spark job — it's the same in-memory KV store the
(disabled) UI would render. The same reads give the per-stage rows and
job intervals that ``tools/spark_profile.py`` prints.
"""

from __future__ import annotations

import functools
import json
import uuid
from datetime import datetime


class JobGroupMetrics:
    """Context manager: tag all jobs run inside with a unique group id,
    then :meth:`snapshot` aggregates their stage metrics into a
    reference-shaped dict and keeps one row per stage in
    :attr:`stages`; :meth:`job_intervals` times the group's jobs. The
    only reader of Spark's status store outside the benchmark. Failures
    anywhere in the JVM plumbing degrade to partial/empty stats, never
    to a query failure."""

    def __init__(self, spark, description: str = "funnel-rocket-spark query",
                 cached_input: bool = False):
        self.spark = spark
        self.group_id = f"frs-{uuid.uuid4().hex[:12]}"
        self.description = description
        # the group's jobs read their input from a table cached by name
        # (spark.catalog.cacheTable): scannedRows then counts the rows
        # its in-memory scans output, since a stage's input records
        # count the cached batches it read, not rows
        self.cached_input = cached_input
        # per-stage rows of the last snapshot: stage, name, tasks,
        # failedTasks, wallSeconds, scheduler pool and the worker
        # block's keys
        self.stages: list[dict] = []

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.group_id, self.description)
        return self

    def __exit__(self, *exc):
        try:
            self.spark.sparkContext._jsc.clearJobGroup()
        except Exception:
            pass
        return False

    def snapshot(self) -> dict:
        """Aggregate this group's stage metrics. Key names follow the
        reference's stats object where a Spark equivalent exists
        (totalTasks/failedTasks, scannedRows, cache), with Spark-native
        additions (shuffle/spill/cpu) under ``worker``."""
        sc = self.spark.sparkContext
        out = {
            "invoker": {"totalTasks": 0, "failedTasks": 0,
                        "jobs": 0, "stages": 0},
            "worker": {
                "scannedRows": 0, "scannedBytes": 0,
                "outputRows": 0, "outputBytes": 0,
                "shuffleReadBytes": 0, "shuffleReadRecords": 0,
                "shuffleWriteBytes": 0, "shuffleWriteRecords": 0,
                "memorySpilledBytes": 0, "diskSpilledBytes": 0,
                "executorRunSeconds": 0.0, "executorCpuSeconds": 0.0,
                "jvmGcSeconds": 0.0, "peakExecutionMemory": 0,
            },
        }
        self.stages = []
        try:
            _drain_listener_bus(sc)
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(self.group_id)
            stage_ids = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            out["invoker"]["jobs"] = len(job_ids)
            try:
                self._fill_from_status_store(sc, stage_ids, out)
            except Exception:
                # statusStore is reached through py4j reflection of
                # private Spark plumbing; a Spark minor-version bump may
                # break it. Degrade to the PUBLIC StatusTracker API —
                # task/stage counts survive, byte/row volumes don't.
                out["partial"] = True
                out["statsSource"] = "statusTracker"
                self._fill_from_tracker(tracker, stage_ids, out)
            if self.cached_input:
                try:
                    out["worker"]["scannedRows"] = self._cached_scan_rows(
                        sc, job_ids)
                except Exception:
                    out["partial"] = True  # rows stay the stage records
            w = out["worker"]
            for k in ("executorRunSeconds", "executorCpuSeconds",
                      "jvmGcSeconds"):
                w[k] = round(w[k], 4)
            # The reference prices its Lambda compute per query
            # (docs/api.md:739 — "cost": 0.00175). The Spark analog is
            # executor-core time at a per-core-hour rate
            # (FRS_CORE_HOUR_USD, default $0.05 ≈ on-demand general-
            # purpose vCPU-hour); run time, not CPU time, since that is
            # what a cluster bills.
            import os

            rate = float(os.environ.get("FRS_CORE_HOUR_USD", "0.05"))
            out["cost"] = round(w["executorRunSeconds"] / 3600.0 * rate, 6)
        except Exception:
            out["partial"] = True  # plumbing changed: degrade, don't fail
        return out

    def job_intervals(self) -> list[dict]:
        """``{"job", "submittedMs", "completedMs"}`` (epoch ms) for each
        finished job of this group, in submission order. The job ids come
        from the status tracker's per-group lookup, so the cost follows
        the group's job count, not every job the driver has run. [] on a
        plumbing mismatch."""
        sc = self.spark.sparkContext
        out = []
        try:
            _drain_listener_bus(sc)
            store = sc._jsc.sc().statusStore()
            for jid in sc.statusTracker().getJobIdsForGroup(self.group_id):
                job = store.job(int(jid))
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    out.append({"job": int(jid),
                                "submittedMs": sub.get().getTime(),
                                "completedMs": done.get().getTime()})
        except Exception:
            return []
        return sorted(out, key=lambda r: r["submittedMs"])

    def _fill_from_status_store(self, sc, stage_ids, out: dict) -> None:
        """Full metrics via the driver's AppStatusStore (private plumbing,
        reached by py4j reflection — the caller falls back to
        :meth:`_fill_from_tracker` if any of it moved). Each stage is one
        ``StageData`` written as JSON by the mapper Spark's REST API uses
        and parsed here: one py4j read per stage instead of a getter call
        per field. Every stage is read before ``out`` is touched, so a
        failure mid-loop leaves no partial sums for the fallback to add
        to."""
        store = sc._jsc.sc().statusStore()
        mapper = _stage_json_mapper(sc._gateway)
        # Scala default args surface as $default$N helper methods.
        defaults = [getattr(store, f"stageAttempt$default${i}")()
                    for i in (3, 4, 5, 6)]
        rows = []
        for sid in sorted(stage_ids):
            try:
                data = store.stageAttempt(int(sid), 0, *defaults)._1()
            except Exception:
                continue  # planned but never recorded
            stage = json.loads(mapper.writeValueAsString(data))
            rows.append({
                "stage": int(sid),
                "name": stage["name"][:80],
                "tasks": stage["numCompleteTasks"],
                "failedTasks": stage["numFailedTasks"],
                "wallSeconds": _wall_seconds(stage),
                "pool": stage["schedulingPool"],
                **{key: stage[field]
                   for key, field in _STAGE_COUNTERS.items()},
                "executorRunSeconds": stage["executorRunTime"] / 1000.0,
                "executorCpuSeconds": stage["executorCpuTime"] / 1e9,
                "jvmGcSeconds": stage["jvmGcTime"] / 1000.0,
            })
        inv, w = out["invoker"], out["worker"]
        inv["stages"] += len(rows)
        inv["totalTasks"] += sum(r["tasks"] for r in rows)
        inv["failedTasks"] += sum(r["failedTasks"] for r in rows)
        for k in w:
            vals = [r[k] for r in rows]
            w[k] = (max([w[k], *vals]) if k == "peakExecutionMemory"
                    else sum(vals, w[k]))
        self.stages = rows
        # Task-duration distribution of the heaviest stage — the Spark
        # analog of the reference worker's per-task totalTime percentiles
        # (docs/api.md:712-723). Per-stage (tasks within one stage are
        # the comparable fan-out unit, like the reference's one-task-
        # per-part fleet).
        if rows:
            heaviest = max(rows, key=lambda r: r["tasks"])
            dist = self._task_duration_quantiles(sc, heaviest["stage"])
            if dist:
                w["taskTime"] = dist

    def _cached_scan_rows(self, sc, job_ids) -> int:
        """Rows output by the group's scans of tables cached by name:
        each job's SQL execution (``jobWithAssociatedSql``), then the
        nodes of that execution's plan graph named ``Scan In-memory
        table <name>``, and their ``number of output rows`` values. The
        cost follows the group's jobs and their plans' nodes, not every
        execution the driver has retained. Names are read node by node:
        one rendering of the whole graph is a py4j answer of 10 KB or
        more, and each such answer measured about 45 ms."""
        store = sc._jsc.sc().statusStore()
        sql = self.spark._jsparkSession.sharedState().statusStore()
        executions = set()
        for jid in job_ids:
            execution = store.jobWithAssociatedSql(int(jid))._2()
            if execution.isDefined():
                executions.add(execution.get())
        rows = 0
        for eid in executions:
            nodes = sql.planGraph(eid).allNodes()
            values = None
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not node.name().startswith("Scan In-memory table "):
                    continue
                if values is None:
                    values = sql.executionMetrics(eid)
                metrics = node.metrics()
                for j in range(metrics.size()):
                    metric = metrics.apply(j)
                    value = values.get(metric.accumulatorId())
                    if (metric.name() == "number of output rows"
                            and value.isDefined()):
                        rows += int(value.get().replace(",", ""))
        return rows

    @staticmethod
    def _fill_from_tracker(tracker, stage_ids, out: dict) -> None:
        """Task/stage counts via the public :class:`StatusTracker` Python
        API — the version-proof floor under the statusStore reflection.
        ``SparkStageInfo`` carries no byte/row metrics, so volumes stay 0
        and the snapshot is marked partial by the caller."""
        for sid in sorted(stage_ids):
            info = tracker.getStageInfo(sid)
            if info is None:
                continue
            out["invoker"]["stages"] += 1
            out["invoker"]["totalTasks"] += info.numCompletedTasks
            out["invoker"]["failedTasks"] += info.numFailedTasks

    @staticmethod
    def _task_duration_quantiles(sc, stage_id: int):
        """``{"min": s, "25%": s, ..., "max": s}`` task durations for one
        stage via AppStatusStore.taskSummary (a Scala Array[Double] arg —
        built through the py4j gateway). None on any plumbing mismatch."""
        try:
            labels = ["min", "25%", "50%", "75%", "95%", "99%", "max"]
            qs = [0.0, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0]
            gw = sc._gateway
            arr = gw.new_array(gw.jvm.double, len(qs))
            for i, v in enumerate(qs):
                arr[i] = v
            opt = sc._jsc.sc().statusStore().taskSummary(stage_id, 0, arr)
            if not opt.isDefined():
                return None
            dur = opt.get().duration()  # Scala IndexedSeq[Double], ms
            return {lab: round(dur.apply(i) / 1000.0, 4)
                    for i, lab in enumerate(labels)}
        except Exception:
            return None


def _drain_listener_bus(sc) -> None:
    """AppStatusListener is fed by the ASYNC listener bus — a read taken
    right after the last collect can miss the final task/stage/job
    events under load. Drain the bus first (bounded wait) so the store
    is complete; guarded because waitUntilEmpty is private[spark]
    plumbing."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:
        pass


@functools.lru_cache(maxsize=1)
def _stage_json_mapper(gateway):
    """The JSON mapper of Spark's REST API, made once per JVM gateway: a
    new mapper builds its serializers by reflection on first use, which
    costs more than the reads it replaces."""
    return gateway.jvm.org.apache.spark.status.api.v1 \
        .JacksonMessageWriter().mapper()


# worker-block key -> its ``StageData`` JSON field, copied as is
_STAGE_COUNTERS = {
    "scannedRows": "inputRecords", "scannedBytes": "inputBytes",
    "outputRows": "outputRecords", "outputBytes": "outputBytes",
    "shuffleReadBytes": "shuffleReadBytes",
    "shuffleReadRecords": "shuffleReadRecords",
    "shuffleWriteBytes": "shuffleWriteBytes",
    "shuffleWriteRecords": "shuffleWriteRecords",
    "memorySpilledBytes": "memoryBytesSpilled",
    "diskSpilledBytes": "diskBytesSpilled",
    "peakExecutionMemory": "peakExecutionMemory",
}


def _wall_seconds(stage: dict) -> float:
    """First task launch to completion of one ``StageData`` JSON
    object; 0.0 when it launched no task (a stage skipped because its
    shuffle output already existed) or has not completed. The REST
    mapper writes times as ``yyyy-MM-dd'T'HH:mm:ss.SSS'GMT'``."""
    first = stage.get("firstTaskLaunchedTime")
    done = stage.get("completionTime")
    if first is None or done is None:
        return 0.0
    delta = (datetime.fromisoformat(done.removesuffix("GMT"))
             - datetime.fromisoformat(first.removesuffix("GMT")))
    return round(delta.total_seconds(), 3)


def dataset_stats(df) -> dict:
    """``{"parts": N, "totalSize": bytes}`` for the frame's input files —
    the reference's ``dataset`` stats block (``docs/api.md:731-734``).
    Sizes come from filesystem metadata (no Spark job); non-file schemes
    or huge file counts return parts only."""
    try:
        files = df.inputFiles()
    except Exception:
        return {}
    out = {"parts": len(files)}
    if not files or len(files) > 10_000:
        return out
    try:
        import os
        from urllib.parse import unquote, urlparse

        total = 0
        for f in files:
            parsed = urlparse(f)
            if parsed.scheme not in ("", "file"):
                return out
            total += os.path.getsize(unquote(parsed.path))
        out["totalSize"] = total
    except Exception:
        pass
    return out
