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


class QueryEngine:
    """Runs validated queries over a DataFrame keyed by (group, timestamp).

    Unlike the reference's engine (one Pandas DataFrame per worker, results
    reduced on the invoker — ``query_engine.py:72-106``), one instance covers
    the whole dataset: Spark distributes the plan, the driver collects only
    tiny aggregates.
    """

    def __init__(self, group_id_column: str, timestamp_column: str,
                 universe_window_threshold: int = 4_000_000,
                 agg_collect_threads: int = 8):
        self.group_id_column = group_id_column
        self.timestamp_column = timestamp_column
        # matched-group count above which the row universe switches from
        # the semi join (broadcastable below this) to window flags — see
        # QueryPlan.rows_of_matching_groups
        self.universe_window_threshold = universe_window_threshold
        # multi-aggregation queries submit their N independent aggregate
        # jobs from this many threads (Spark schedules concurrent jobs;
        # the shared universe is persisted, and Spark's per-partition
        # cache locking means concurrent first-computes block rather
        # than duplicate). 1 = serial.
        self.agg_collect_threads = max(1, int(agg_collect_threads))

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
        rows = None
        rows_persisted = False
        rows_strategy = None
        funnel_strategy = None
        metrics_mgr = None
        if with_stats:
            metrics_mgr = JobGroupMetrics(df.sparkSession)
            metrics_mgr.__enter__()
        matched = None
        try:
            if plan._conditions and (query_aggs or funnel is not None):
                # the matched-group frame feeds counts AND every
                # join-universe build side below: persist it so the
                # condition pass runs ONCE per query, not once per
                # consumer, not again as the semi join's build side. The
                # frame is one row per matched group — bounded by
                # n_groups, column-pruned to (group, __fr_rows, flags).
                matched = plan.matched_groups()
                matched.persist(StorageLevel.MEMORY_AND_DISK)
            # without conditions or query aggregations nothing routes on
            # the count, and the funnel's counts collect returns it
            counts = (plan.counts(matched).collect()[0]
                      if funnel is None or plan._conditions or query_aggs
                      else None)
            if query_aggs:  # the universe feeds query aggregations only;
                # the funnel branch derives its own labeled universe
                # adaptive universe: the matched-group count is already in
                # hand. A small set → semi join (AQE broadcasts it); a set
                # too big to broadcast would sort-merge the whole table, so
                # evaluate the same conditions as window flags instead —
                # join-free, measured 2.9× at 100M rows with 71% of groups
                # matching.
                rows_strategy = (
                    "window" if counts["matching_groups"]
                    > self.universe_window_threshold else "join")
                # NOTE (r12, measured): a declared sorted layout does
                # NOT flip this choice to "window" unconditionally —
                # on bucketBy(group)+sortBy(group, ts) the semi join's
                # big side is ALSO exchange-free and sort-free (the
                # declared order satisfies the SMJ), and the join
                # reuses the persisted matched frame while the window
                # pass re-evaluates conditions as flags. The 100M rung
                # (tools/rung_bucketed_100m_r12.json) has the join at
                # 1.16 s vs window 1.84 s selective and 1.69 vs 1.92
                # broad, so the matched-count threshold stays the
                # right picker on every layout.
                rows = plan.rows_of_matching_groups(strategy=rows_strategy,
                                                    matched=matched)
                if len(query_aggs) > 1:
                    # caching the universe pays only when several
                    # aggregations read it; for one consumer the
                    # materialization is pure overhead (measured 35 s vs
                    # 13 s at 100M rows on the window path)
                    rows.persist(StorageLevel.MEMORY_AND_DISK)
                    rows_persisted = True
            funnel_block = None
            if funnel is not None:
                funnel_block, totals, funnel_strategy = self._run_funnel(
                    plan, matched,
                    None if counts is None else counts["matching_groups"])
                if counts is None:
                    counts = totals
            result: dict = {
                "query": {
                    "matchingGroups": counts["matching_groups"],
                    "matchingGroupRows": counts["matching_group_rows"],
                    "aggregations": self._collect_aggregations(plan, query_aggs, rows),
                },
                "funnel": funnel_block,
            }
            if with_stats:
                stats = {
                    "engine": "spark",
                    "success": True,
                    "totalSeconds": round(_time.perf_counter() - t0, 4),
                    # which physical plans the engine actually chose,
                    # auditable from a result JSON alone
                    "strategies": {
                        "rowUniverse": rows_strategy,
                        "funnelUniverse": funnel_strategy,
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
            if rows_persisted:
                rows.unpersist()
            if matched is not None:
                matched.unpersist()

    def _run_funnel(self, plan: QueryPlan, matched: Optional[DataFrame],
                    groups: Optional[int]) -> tuple[dict, dict, str]:
        """(funnel block, ``funnel_counts`` row, universe strategy), all
        from ONE labeled universe (``QueryPlan.funnel_labeled``): step
        counts from its per-group frame, each distinct step/end
        aggregation spec from one multi-step job (end aggregations are
        the last step's slot). ``groups``: the matched-group count, when
        routing already needed it. Past ``universe_window_threshold`` the
        funnel takes the join-free window universe."""
        funnel = plan.q["funnel"]
        n = len(funnel["sequence"])
        step_aggs = funnel.get("stepAggregations") or []
        end_aggs = funnel.get("endAggregations") or []
        specs = {_spec_key(a): a for a in step_aggs + end_aggs}
        step_keys = {_spec_key(a) for a in step_aggs}
        many = groups is not None and groups > self.universe_window_threshold
        # without conditions the universe is the table: no join
        uni = "window" if many or not plan._conditions else "join"
        # the counts collect materializes the cached labeled universe
        # (funnel_per_group rebuilds its plan), then every aggregation
        # reads it: the table is scanned once
        labeled = plan.funnel_labeled(uni, matched=matched)
        if specs:
            labeled.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            totals = plan.funnel_counts(plan.funnel_per_group(
                uni, matched=matched)).collect()[0]

            def values(item) -> dict:
                key, agg = item
                steps = list(range(n)) if key in step_keys else [n - 1]
                adf = plan.funnel_aggregation_df(agg, labeled, steps)
                got = adf.collect()
                if agg["type"] == "count":
                    return {r["step"]: r["count"] for r in got}
                out: dict = {i: {} for i in steps}
                for r in sorted(got, key=lambda r: (r["step"], r["rank"])):
                    out[r["step"]][str(r["value"])] = r[adf.columns[-1]]
                return out

            by_spec = dict(zip(specs, self._map(plan, values,
                                                list(specs.items()))))
        finally:
            if specs:
                labeled.unpersist()

        def entries(aggs: list[dict], step: int) -> Optional[list[dict]]:
            return ([_agg_entry(a, by_spec[_spec_key(a)][step]) for a in aggs]
                    if aggs else None)

        return {
            "sequence": [{"matchingGroups": totals[f"__g{i}"],
                          "matchingGroupRows": totals[f"__r{i}"],
                          "aggregations": entries(step_aggs, i)}
                         for i in range(n)],
            "endAggregations": entries(end_aggs, n - 1),
        }, totals, uni

    def _map(self, plan: QueryPlan, fn, items: list) -> list:
        """``[fn(x) for x in items]`` for independent tiny-result jobs,
        submitted concurrently from up to ``agg_collect_threads`` threads
        so the phase costs ~the slowest job, not the sum. Pool threads
        inherit the caller's Spark job group: setJobGroup is thread-LOCAL
        (test_job_group_stats_are_thread_scoped), and jobs escaping the
        query's JobGroupMetrics group would vanish from its stats."""
        from concurrent.futures import ThreadPoolExecutor

        if len(items) <= 1 or self.agg_collect_threads == 1:
            return [fn(x) for x in items]
        sc = plan.df.sparkSession.sparkContext
        props = {k: sc.getLocalProperty(k)
                 for k in ("spark.jobGroup.id", "spark.job.description",
                           "spark.jobGroup.interruptOnCancel")}

        def wrapped(item):
            for k, v in props.items():
                if v is not None:
                    sc.setLocalProperty(k, v)
            return fn(item)

        with ThreadPoolExecutor(min(len(items),
                                    self.agg_collect_threads)) as ex:
            return list(ex.map(wrapped, items))

    def _collect_aggregations(
        self, plan: QueryPlan, aggs: list[dict], rows: Optional[DataFrame],
    ) -> Optional[list[dict]]:
        if not aggs:
            return None

        def one(agg: dict) -> dict:
            adf = plan.aggregation_df(agg, rows)
            collected = adf.collect()
            if agg["type"] == "count":
                return _agg_entry(agg, collected[0]["count"]
                                  if collected else 0)
            metric = adf.columns[-1]
            return _agg_entry(agg, {str(r["value"]): r[metric]
                                    for r in collected})

        return self._map(plan, one, aggs)


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
