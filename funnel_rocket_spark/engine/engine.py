"""Execute a query end-to-end and shape the reference-compatible JSON result.

The reference returns a small JSON document — counts + aggregation maps, never
row data (``/root/reference/frocket/common/tasks/query.py:98-134``,
``apiserver.py:216-247``). This engine produces the same shape from collected
Spark aggregates:

    {"query":  {"matchingGroups": N, "matchingGroupRows": N,
                "aggregations": [{"column","type","name","top","value"}, ...]},
     "funnel": {"sequence": [{"matchingGroups","matchingGroupRows",
                              "aggregations"}, ...],
                "endAggregations": [...]}}
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

from funnel_rocket_spark.planner.compiler import DEFAULT_TOP_COUNT, QueryPlan
from funnel_rocket_spark.validation.validator import ExpandedQuery, expand_and_validate

# matched-group count above which the labeled universe's rows come from
# window flags instead of the semi join (broadcastable below this) — see
# QueryPlan.rows_of_matching_groups
UNIVERSE_WINDOW_THRESHOLD = 4_000_000
# a query's independent aggregation jobs are submitted from this many
# threads (Spark schedules concurrent jobs; the shared universe is
# persisted, and Spark's per-partition cache locking means concurrent
# first-computes block rather than duplicate). 1 = serial.
AGG_COLLECT_THREADS = 8


class QueryEngine:
    """Runs validated queries over a DataFrame keyed by (group, timestamp).

    Unlike the reference's engine (one Pandas DataFrame per worker, results
    reduced on the invoker — ``query_engine.py:72-106``), one instance covers
    the whole dataset: Spark distributes the plan, the driver collects only
    tiny aggregates.
    """

    def __init__(self, group_id_column: str, timestamp_column: str):
        self.group_id_column = group_id_column
        self.timestamp_column = timestamp_column

    def expand(self, query: dict, df: Optional[DataFrame] = None) -> ExpandedQuery:
        schema = (
            {f.name: f.dataType.simpleString() for f in df.schema.fields}
            if df is not None
            else None
        )
        return expand_and_validate(
            query,
            dataset_schema=schema,
            group_id_column=self.group_id_column,
            timestamp_column=self.timestamp_column,
        )

    def plan(self, df: DataFrame, query: dict, validate_schema: bool = True,
             layout: Optional[dict] = None) -> QueryPlan:
        if self._sorted_layout(layout):
            self._enable_sorted_scan(df)
        expanded = self.expand(query, df if validate_schema else None)
        return QueryPlan(df, expanded, self.group_id_column,
                         self.timestamp_column)

    def _sorted_layout(self, layout: Optional[dict]) -> bool:
        """True when the dataset's declared layout
        (``Dataset.layout``, recorded from the bucketed table's
        DESCRIBE at registration) clusters AND orders rows the way the
        per-group engine consumes them: ``bucketBy(group_id)`` with
        ``sortBy(group_id, ts)``. On that layout the scan itself
        satisfies the window-anchor pass's required distribution and
        ordering — no exchange, no sort (Spark reports the file order
        only for single-file buckets; ``sources.write_bucketed``
        aligns one file per bucket for exactly this reason)."""
        if not layout:
            return False
        sort = layout.get("sort_columns") or []
        return (layout.get("bucket_columns") == [self.group_id_column]
                and sort[:2] == [self.group_id_column,
                                 self.timestamp_column])

    @staticmethod
    def _enable_sorted_scan(df: DataFrame) -> None:
        """Since Spark 3.0 a bucketed scan reports its sortBy order only
        under ``spark.sql.legacy.bucketedTableScan.outputOrdering`` —
        gated off by default because the plan then depends on the
        files-per-bucket count (SPARK-28595). It stays CORRECT with the
        flag on: Spark still refuses to report ordering for multi-file
        buckets, and ``sources.write_bucketed`` aligns one file per
        bucket precisely so this reports. Enabled at the engine
        chokepoint (dynamic session conf) whenever a declared sorted
        layout reaches plan() — without it the first Window re-sorts
        the data the layout already ordered."""
        df.sparkSession.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

    def run(self, df: DataFrame, query: dict, validate_schema: bool = True,
            with_stats: bool = False,
            layout: Optional[dict] = None) -> dict:
        """Execute and return the reference-shaped result JSON.

        ``with_stats`` adds a ``stats`` block shaped after the reference's
        (``/root/reference/frocket/invoker/stats_builder.py:42-86``, example
        ``docs/api.md:645-736``): task counts, scanned rows/bytes, shuffle
        and spill volumes, CPU/GC time, dataset parts/size — here read
        from Spark's AppStatusStore for the query's own job group instead
        of a Lambda metrics frame (see ``engine/metrics.py``).
        """
        import time as _time

        from funnel_rocket_spark.engine.metrics import (JobGroupMetrics,
                                                        dataset_stats)

        t0 = _time.perf_counter()
        plan = self.plan(df, query, validate_schema=validate_schema,
                         layout=layout)
        q = plan.q

        query_aggs = q.get("query", {}).get("aggregations") or []
        funnel = q.get("funnel")
        n = len(funnel["sequence"]) if funnel else 0
        step_aggs = (funnel or {}).get("stepAggregations") or []
        end_aggs = (funnel or {}).get("endAggregations") or []
        # each distinct aggregation spec -> the universe slots it reads
        # (QueryPlan.aggregation_df): 0 for the query block, i + 1 for
        # funnel step i, n for the end aggregations
        specs: dict[tuple, tuple[dict, set]] = {}
        for aggs, slots in ((query_aggs, [0]), (step_aggs, range(1, n + 1)),
                            (end_aggs, [n])):
            for a in aggs:
                specs.setdefault(_spec_key(a), (a, set()))[1].update(slots)
        needs_universe = bool(specs) or funnel is not None
        universe = None
        labeled = None
        cached = False
        metrics_mgr = None
        if with_stats:
            metrics_mgr = JobGroupMetrics(df.sparkSession)
            metrics_mgr.__enter__()
        matched = None
        try:
            counts = totals = None
            if plan._conditions and needs_universe:
                # the matched-group frame feeds counts AND the semi
                # join's build side: persist it so the condition pass
                # runs ONCE per query. The frame is one row per matched
                # group — bounded by n_groups, column-pruned to (group,
                # __fr_rows, flags).
                matched = plan.matched_groups()
                matched.persist(StorageLevel.MEMORY_AND_DISK)
            if plan._conditions or not needs_universe:
                counts = plan.counts(matched).collect()[0]
            if needs_universe:
                if plan._conditions:
                    # the matched-group count is in hand. A small set →
                    # semi join (AQE broadcasts it); a set too big to
                    # broadcast would sort-merge the whole table, so
                    # evaluate the same conditions as window flags
                    # instead — join-free, measured 2.9× at 100M rows
                    # with 71% of groups matching. A declared sorted
                    # layout keeps this choice: the 100M bucketed rung
                    # (tools/rung_bucketed_100m_r12.json) measured the
                    # join at or below the window flags there too.
                    universe = ("window" if counts["matching_groups"]
                                > UNIVERSE_WINDOW_THRESHOLD else "join")
                labeled = plan.labeled(universe or "join", matched=matched)
                # the funnel's counts, and without conditions the
                # query's, come from the universe
                counted = funnel is not None or counts is None
                readers = len(specs) + counted
                if readers > 1:
                    # caching pays only when several jobs read the
                    # universe; for one the materialization is pure
                    # overhead (measured 35 s vs 13 s at 100M rows on
                    # the window universe)
                    labeled.persist(StorageLevel.MEMORY_AND_DISK)
                    cached = True
                if counted:
                    totals = plan.universe_counts(labeled).collect()[0]
                    if counts is None:
                        counts = totals

            def values(item: tuple[dict, set]) -> dict:
                agg, slots = item
                adf = plan.aggregation_df(agg, labeled, sorted(slots))
                got = adf.collect()
                if agg["type"] == "count":
                    return {r["slot"]: r["count"] for r in got}
                out: dict = {s: {} for s in slots}
                for r in sorted(got, key=lambda r: (r["slot"], r["rank"])):
                    out[r["slot"]][str(r["value"])] = r[adf.columns[-1]]
                return out

            by_spec = dict(zip(specs, self._map(plan, values,
                                                list(specs.values()))))

            def entries(aggs: list[dict], slot: int) -> Optional[list[dict]]:
                return ([_agg_entry(a, by_spec[_spec_key(a)][slot])
                         for a in aggs] if aggs else None)

            result: dict = {
                "query": {
                    "matchingGroups": counts["matching_groups"],
                    "matchingGroupRows": counts["matching_group_rows"],
                    "aggregations": entries(query_aggs, 0),
                },
                "funnel": None if funnel is None else {
                    "sequence": [{"matchingGroups": totals[f"__g{i}"],
                                  "matchingGroupRows": totals[f"__r{i}"],
                                  "aggregations": entries(step_aggs, i + 1)}
                                 for i in range(n)],
                    "endAggregations": entries(end_aggs, n),
                },
            }
            if with_stats:
                stats = {
                    "engine": "spark",
                    "success": True,
                    "totalSeconds": round(_time.perf_counter() - t0, 4),
                    # which physical plans the engine actually chose,
                    # auditable from a result JSON alone
                    "strategies": {
                        "universe": universe,
                        "sortedLayout": self._sorted_layout(layout),
                    },
                    "usedColumns": plan.expanded.used_columns,
                    "sparkAppId": df.sparkSession.sparkContext.applicationId,
                    "defaultParallelism":
                        df.sparkSession.sparkContext.defaultParallelism,
                    "dataset": dataset_stats(df),
                }
                stats.update(metrics_mgr.snapshot())
                result["stats"] = stats
            return result
        finally:
            if metrics_mgr is not None:
                metrics_mgr.__exit__(None, None, None)
            if cached:
                labeled.unpersist()
            if matched is not None:
                matched.unpersist()

    def _map(self, plan: QueryPlan, fn, items: list) -> list:
        """``[fn(x) for x in items]`` for independent tiny-result jobs,
        submitted concurrently from up to ``AGG_COLLECT_THREADS`` threads
        so the phase costs ~the slowest job, not the sum. Spark's job
        group, job description and scheduler pool are thread-LOCAL
        properties (test_job_group_stats_are_thread_scoped), so each
        item runs under ``inheritable_thread_target``, which hands the
        pool thread a copy of the caller's properties: the jobs stay in
        the query's JobGroupMetrics group and in the request's pool.
        Each item gets its own copy — threads sharing one would
        overwrite each other's SQL execution id."""
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        if len(items) <= 1 or AGG_COLLECT_THREADS == 1:
            return [fn(x) for x in items]
        session = plan.df.sparkSession
        with ThreadPoolExecutor(min(len(items), AGG_COLLECT_THREADS)) as ex:
            futures = [ex.submit(inheritable_thread_target(session)(fn), x)
                       for x in items]
            return [f.result() for f in futures]


def _spec_key(agg: dict) -> tuple:
    """What an aggregation computes — everything but its ``name``."""
    return tuple(sorted((k, str(v)) for k, v in agg.items() if k != "name"))


def _agg_entry(agg: dict, value) -> dict:
    return {
        "column": agg["column"],
        "type": agg["type"],
        "name": agg.get("name"),
        "top": (None if agg["type"] == "count"
                else int(agg.get("top", DEFAULT_TOP_COUNT))),
        "value": value,
    }
