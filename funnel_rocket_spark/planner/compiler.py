"""Compile an expanded query into lazy PySpark DataFrame programs.

This is the Spark-native replacement for the reference's per-file Pandas engine
(``/root/reference/frocket/engine/query_engine.py``) *and* its entire
invoker/worker/reduce machinery: one declarative DataFrame expression tree that
Catalyst plans (predicate pushdown, column pruning, partial aggregation,
AQE-chosen join strategies) and Tungsten executes with whole-stage codegen.

Key translation (SURVEY.md §7): **a condition is a boolean aggregate per
group.** All conditions are evaluated in a single ``groupBy(group_id)`` pass:

    per_group = df.groupBy(G).agg(
        (count_matching(pred0) >= 1).alias("__cond_0"),
        (sum_matching(pred1, X) < 350).alias("__cond_1"),
        ...)
    matched = per_group.filter(relation)      # "$0 and ($1 or $2)"
    rows    = df.join(matched, G, "left_semi")  # the labeled universe's rows

Sequence conditions need per-row comparisons against per-group running state;
those are computed as window aggregates over ``Window.partitionBy(G)`` *before*
the groupBy — one shuffle, reused by every step (see ``_with_sequence_anchors``).

Null semantics (Pandas parity — the reference's #1 correctness trap, see
reference ``query_engine.py:205-210`` and ``tests/test_query_engine.py:102-144``):
``== > >= < <= contains regex`` on NULL → no match; ``!=`` / ``not contains`` on
NULL → match. Every generated predicate is explicitly null-coalesced.
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from functools import reduce
from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from funnel_rocket_spark.validation.validator import ExpandedQuery

COND_PREFIX = "__cond_"
ROWS_COL = "__fr_rows"
DONE_COL = "__fr_done"
MATCH_COL = "__fr_match"
NEG_INF = float("-inf")

_CMP = {
    "==": operator.eq,
    "!=": operator.ne,
    ">": operator.gt,
    ">=": operator.ge,
    "<": operator.lt,
    "<=": operator.le,
}

DEFAULT_TOP_COUNT = 10  # reference config 'aggregations.top.default.count'

_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_TIME_TYPES = (T.TimestampType, T.TimestampNTZType, T.DateType)
LONG_MIN = -(2**63)


def ts_numeric(df: DataFrame, ts_col: str) -> tuple[Column, Column]:
    """(numeric timestamp Column, 'before everything' sentinel literal).

    Integer timestamps stay in their native long type — casting epoch-nanos
    (~1.7e18) to double would quantize to ~256 ns steps and break strict-``>``
    sequence comparisons. Timestamp/date columns cast to double epoch seconds;
    float columns pass through.
    """
    dtype = df.schema[ts_col].dataType
    if isinstance(dtype, _INT_TYPES):
        return F.col(ts_col), F.lit(LONG_MIN)
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType, T.DateType)):
        # Timestamp/date columns are treated as epoch-NANOSECONDS, exactly,
        # in int64 — query time values (timeframe, maxDuration) use the same
        # unit. NTZ/date go via TIMESTAMP first (no direct numeric cast); the
        # session timezone is pinned to UTC (see session.get_spark) so the
        # wall time IS the epoch — tz-independent parity with DuckDB's
        # epoch_ns().
        return (F.unix_micros(F.col(ts_col).cast(T.TimestampType()))
                * F.lit(1000), F.lit(LONG_MIN))
    return F.col(ts_col).cast(T.DoubleType()), F.lit(NEG_INF)


def filter_to_column(f: dict) -> Column:
    """Single filter → null-coalesced boolean Column (reference F1,
    ``query_engine.py:193-210``)."""
    col, op, value = F.col(f["column"]), f["op"], f["value"]
    if op == "contains":
        return F.coalesce(col.contains(F.lit(value)), F.lit(False))
    if op == "not contains":
        return F.coalesce(~col.contains(F.lit(value)), F.lit(True))
    if op == "regex":
        return F.coalesce(col.rlike(value), F.lit(False))
    pred = _CMP[op](col, F.lit(value))
    # NULL comparisons: != matches (Pandas NaN != x → True), the rest don't.
    return F.coalesce(pred, F.lit(op == "!="))


def filters_to_column(cond_or_step: dict) -> Column:
    """AND of ``filter`` / every element of ``filters`` (reference F2,
    ``query_engine.py:212-215``)."""
    preds = []
    if "filter" in cond_or_step:
        preds.append(filter_to_column(cond_or_step["filter"]))
    if "filters" in cond_or_step:
        preds.extend(filter_to_column(f) for f in cond_or_step["filters"])
    return reduce(operator.and_, preds)


def _target_flag(pred: Column, cond: dict, over=None) -> Column:
    """Condition target evaluation as aggregate expressions (reference A1-A3,
    ``query_engine.py:139-182``).

    * count target: groups whose matching-row count satisfies ``op value``.
      Groups with ZERO matching rows only match when ``includeZero`` (the
      reference materializes them by set difference, ``query_engine.py:170-178``;
      here they fall out of the same aggregate since we never pre-filter rows).
    * sum target: sum of ``column`` over matching rows; zero-match groups never
      match; all-null sums coalesce to 0 like Pandas' skip-NaN sum.

    ``over`` (optional) wraps each aggregate LEAF — pass
    ``lambda c: c.over(window)`` to evaluate the identical semantics as
    per-row window flags instead of groupBy aggregates (the windowed
    row-universe path).
    """
    over = over or (lambda c: c)
    target = cond["target"]
    cmp = _CMP[target["op"]]
    cnt = over(F.sum(F.when(pred, 1).otherwise(0)))
    if target["type"] == "count":
        flag = cmp(cnt, F.lit(target["value"]))
        if not cond.get("includeZero", False):
            flag = flag & (cnt > 0)
        return flag
    if target["type"] == "sum":
        total = F.coalesce(over(F.sum(F.when(pred, F.col(target["column"])))),
                           F.lit(0))
        return cmp(total, F.lit(target["value"])) & (cnt > 0)
    raise ValueError(f"Unknown target type: {target['type']}")


@dataclass(frozen=True)
class SequenceSpec:
    """A compiled sequence: per-step predicates + options."""

    step_preds: list  # list[Column]
    row_found: list  # list[bool] — False means "step did NOT happen" (extension)
    max_duration: Optional[float]
    prefix: str  # anchor column name prefix

    def anchor(self, i: int) -> str:
        return f"{self.prefix}a{i}"

    @property
    def last_anchor(self) -> str:
        return self.anchor(len(self.step_preds) - 1)


def compile_sequence(sequence: list[dict], prefix: str,
                     max_duration: Optional[float] = None) -> SequenceSpec:
    return SequenceSpec(
        step_preds=[filters_to_column(step) for step in sequence],
        row_found=[step.get("rowFound", True) for step in sequence],
        max_duration=max_duration,
        prefix=prefix,
    )


def with_sequence_anchors(df: DataFrame, spec: SequenceSpec, group_col: str,
                          ts_col: str) -> DataFrame:
    """Add per-row anchor columns ``<prefix>a{i}`` for each sequence step.

    Anchor semantics (reference W1, ``query_engine.py:221-249``): step *i*
    matches a group iff some row satisfies the step predicate with
    ``ts STRICTLY > min-ts of the previous step's match`` (reference W3,
    ``query_engine.py:233`` — same-timestamp events cannot chain). The anchor
    of step i is that min-ts, constant across the group's rows; NULL anchor =
    step failed. All anchors share one ``Window.partitionBy(group)`` — a single
    exchange, no joins, no per-group Python.

    Extensions beyond reference behavior (declared in its schema but never
    implemented there — ``query_schema.json:40,168``):
    * ``maxDuration``: steps ≥1 must also satisfy ``ts <= first_anchor + d``.
    * ``rowFound: false``: the step passes iff NO row matches after the
      previous anchor; the anchor carries over unchanged.

    A ``-inf`` sentinel anchors step 0 ("no time constraint yet").

    ``group_col`` may be a list of columns — e.g. ``(group, session_idx)``
    for per-session funnels (operators/behavior.session_funnel), which get
    the exact engine step semantics scoped to each session.
    """
    group_cols = [group_col] if isinstance(group_col, str) else list(group_col)
    w = Window.partitionBy(*group_cols)
    ts, sentinel = ts_numeric(df, ts_col)
    prev: Column = sentinel
    first_anchor: Optional[Column] = None
    for i, (pred, found) in enumerate(zip(spec.step_preds, spec.row_found)):
        scoped = pred & prev.isNotNull() & (ts > prev)
        if spec.max_duration is not None and first_anchor is not None:
            scoped = scoped & (ts <= first_anchor + F.lit(spec.max_duration))
        min_match = F.min(F.when(scoped, ts)).over(w)
        if found:
            anchor = min_match
        else:  # extension: step must NOT have happened; anchor passes through
            anchor = F.when(prev.isNotNull() & min_match.isNull(), prev)
        df = df.withColumn(spec.anchor(i), anchor)
        prev = F.col(spec.anchor(i))
        if first_anchor is None and found:
            # the duration window starts at the first FOUND step's anchor:
            # a rowFound:false first step passes through the -inf/LONG_MIN
            # sentinel, and anchoring the window THERE would make
            # ts <= sentinel + d false for every row — zero groups could
            # ever match a maxDuration sequence with an absence-first step
            first_anchor = prev
    return df


def per_group_counts(per_group: DataFrame, n_steps: int) -> DataFrame:
    """ONE row over a per-group frame (``__fr_rows``, ``__fr_done``): its
    ``matching_groups`` / ``matching_group_rows`` and, for each funnel
    step i, ``__g{i}`` / ``__r{i}`` — the groups with ``__fr_done > i``
    and their rows. Conditional sums in one aggregate, never one job per
    step."""
    aggs = [F.count(F.lit(1)).alias("matching_groups"),
            F.coalesce(F.sum(ROWS_COL), F.lit(0))
            .alias("matching_group_rows")]
    for i in range(n_steps):
        passed = F.col(DONE_COL) > F.lit(i)
        aggs.append(F.coalesce(F.sum(F.when(passed, 1)), F.lit(0))
                    .alias(f"__g{i}"))
        aggs.append(F.coalesce(F.sum(F.when(passed, F.col(ROWS_COL))),
                               F.lit(0)).alias(f"__r{i}"))
    return per_group.agg(*aggs)


def unpivot_step_counts(counts: DataFrame, n_steps: int) -> DataFrame:
    """A ``per_group_counts`` row as per-step rows (step,
    matching_groups, matching_group_rows), unpivoted with ``inline``."""
    return counts.select(F.inline(F.array(*[
        F.struct(F.lit(i).alias("step"),
                 F.col(f"__g{i}").alias("matching_groups"),
                 F.col(f"__r{i}").alias("matching_group_rows"))
        for i in range(n_steps)])))


class QueryPlan:
    """Lazy compilation of one expanded query over one DataFrame.

    Every public method returns an unexecuted DataFrame; callers compose/collect.
    Sequences evaluate as window-min anchors (``with_sequence_anchors``):
    one group-keyed exchange + partition sort, and the groupBy reuses its
    partitioning. A whale group lands in one task, whose sort and window
    buffer spill to disk rather than fail (tools/rung_whale_spill.json).
    """

    def __init__(self, df: DataFrame, expanded: ExpandedQuery,
                 group_col: str, ts_col: str):
        self.expanded = expanded
        self.group_col = group_col
        self.ts_col = ts_col
        self.q = expanded.query
        self._conditions = self.q.get("query", {}).get("conditions", []) or []
        self._seq_specs: dict[int, SequenceSpec] = {}
        self._funnel_spec: Optional[SequenceSpec] = None

        # Row scope: timeframe filter, applied before everything (reference F3,
        # ``query_task_runner.py:116-133`` — from-inclusive, to-exclusive).
        tf = self.q.get("timeframe") or {}
        if tf:
            dtype = df.schema[ts_col].dataType
            if isinstance(dtype, (T.TimestampType, T.TimestampNTZType,
                                  T.DateType)):
                # Convert the epoch-nanos literal, NOT the column: the
                # predicate stays on the raw scan column, so it reaches the
                # parquet reader as a pushed filter (row-group / partition
                # pruning — the difference between touching one day and one
                # petabyte). cast(timestamp_micros(lit)) is constant-folded
                # by Catalyst into a plain literal.
                #
                # The literal is rounded UP to the column's granularity g
                # (µs for timestamps, a day for dates). Column values are
                # multiples of g, so ts >= from ⇔ ts >= ceil(from/g)·g and
                # ts < to ⇔ ts < ceil(to/g)·g — ceiling keeps BOTH bounds
                # exact for sub-granularity literals, where flooring would
                # wrongly include rows below `from` and exclude the boundary
                # row at `to` (e.g. to=mid-day D on a date column must keep
                # all of day D).
                gran_ns = (86_400 * 10**9 if isinstance(dtype, T.DateType)
                           else 1000)

                def _ts_lit(v):
                    ceiled = -(-int(v) // gran_ns) * gran_ns
                    return (F.timestamp_micros(F.lit(ceiled // 1000))
                            .cast(dtype))
                if "from" in tf:
                    df = df.filter(F.col(ts_col) >= _ts_lit(tf["from"]))
                if "to" in tf:
                    df = df.filter(F.col(ts_col) < _ts_lit(tf["to"]))
            else:
                ts, _ = ts_numeric(df, ts_col)
                if "from" in tf:
                    df = df.filter(ts >= F.lit(tf["from"]))
                if "to" in tf:
                    df = df.filter(ts < F.lit(tf["to"]))

        # Column pruning (reference F4): select only referenced columns. Catalyst
        # would prune anyway; explicit select keeps plans/readable schemas tight.
        cols = [c for c in df.columns if c in expanded.used_columns]
        self.df = df.select(*cols) if len(cols) < len(df.columns) else df

        for i, cond in enumerate(self._conditions):
            if "sequence" in cond:
                self._seq_specs[i] = compile_sequence(
                    cond["sequence"], prefix=f"__fr_seq{i}_",
                    max_duration=cond.get("maxDuration"))
        funnel = self.q.get("funnel")
        if funnel:
            self._funnel_spec = compile_sequence(
                funnel["sequence"], prefix="__fr_fun_",
                max_duration=funnel.get("maxDuration"))

    # ------------------------------------------------------------------ #

    def _df_with_condition_anchors(self) -> DataFrame:
        df = self.df
        for spec in self._seq_specs.values():
            df = with_sequence_anchors(df, spec, self.group_col, self.ts_col)
        return df

    def _condition_flags(self, over=lambda c: c) -> list[Column]:
        """Every condition's ``__cond_i`` flag, aggregated over rows that
        carry the condition anchors; ``over`` as in ``_target_flag``."""
        flags = []
        for i, cond in enumerate(self._conditions):
            if "sequence" in cond:
                flag = over(F.max(F.col(self._seq_specs[i].last_anchor).isNotNull()))
            else:
                flag = _target_flag(filters_to_column(cond), cond, over)
            flags.append(F.coalesce(flag, F.lit(False)).alias(f"{COND_PREFIX}{i}"))
        return flags

    def per_group(self) -> DataFrame:
        """One row per group: ``__cond_i`` boolean flags + per-group row count.

        Single groupBy pass — Spark's partial/final HashAggregate replaces the
        reference's per-part results + invoker reduce (reference A12,
        ``common/tasks/query.py:84-134``). Sequence conditions attach
        window-min anchors first (the groupBy reuses the window's
        partitioning — still one data exchange).
        """
        return self._df_with_condition_anchors().groupBy(self.group_col).agg(
            F.count(F.lit(1)).alias(ROWS_COL), *self._condition_flags())

    def relation_column(self) -> Column:
        """Boolean Column over per_group()'s ``__cond_i`` flags (reference R2)."""
        template = self.expanded.relation_template
        if template is None:
            return F.lit(True)
        expr = template.format(*[f"{COND_PREFIX}{i}" for i in
                                 range(len(self._conditions))])
        return F.expr(expr)

    def matched_groups(self) -> DataFrame:
        """Groups satisfying the relation; columns: group, __fr_rows."""
        return self.per_group().filter(self.relation_column())

    def counts(self, matched: Optional[DataFrame] = None) -> DataFrame:
        """1-row DataFrame: matching_groups, matching_group_rows (reference A11).

        No join needed — group count and row count both fall out of the
        per-group frame. ``matched`` lets the engine aggregate a frame it
        has PERSISTED (see ``QueryEngine.run``): counts and the semi-join
        universe then share one condition evaluation instead of two.
        """
        mg = matched if matched is not None else self.matched_groups()
        return per_group_counts(mg, 0)

    def matching_group_ids(self) -> DataFrame:
        """The matched group ids as a one-column DataFrame — the audience
        export the reference never offered (its results are counts only).
        Write it out with ``.write.parquet(...)`` for downstream activation.
        """
        return self.matched_groups().select(self.group_col)

    def rows_of_matching_groups(self, strategy: str = "join",
                                matched: Optional[DataFrame] = None
                                ) -> DataFrame:
        """All rows of matching groups (reference F5/J1 semi-filter,
        ``helpers/pandas.py:20-37``): the rows of the labeled universe
        (``labeled``) that every aggregation and the funnel read.

        ``strategy="join"`` (default): a left-semi join on the group key —
        AQE broadcasts when the matched-group set is small. The right
        shape for selective conditions.

        ``strategy="window"``: the SAME condition aggregates evaluated as
        per-row window flags over ``partitionBy(group)`` + a filter — no
        join at all. When most groups match, the semi join can't broadcast
        and sort-merges the full table against millions of keys; the
        window pass replaces that with one group-keyed exchange (measured
        2.9×: 36.3 s → 12.6 s on a 100M-row countPerValue query with 7.1M
        of 10M groups matching). The engine picks per query using the
        matched-group count it has already computed (see
        ``QueryEngine.run``).

        ``matched``: a pre-computed (typically PERSISTED) matched-groups
        frame to join against, so the join paths reuse the condition
        evaluation the engine already ran for counts instead of
        re-running it as the semi join's build side.
        """
        if not self._conditions:
            return self.df
        if strategy == "window":
            return self._rows_windowed()
        if matched is None:
            matched = self.matched_groups()
        return self.df.join(matched.select(self.group_col),
                            on=self.group_col, how="left_semi")

    def _rows_windowed(self) -> DataFrame:
        """Join-free row universe: condition flags as window aggregates.

        Sequence conditions ride their anchor columns (window-computed
        already).
        """
        w = Window.partitionBy(self.group_col)
        flags = self._condition_flags(over=lambda c: c.over(w))
        return (self._df_with_condition_anchors().select("*", *flags)
                .filter(self.relation_column()).select(*self.df.columns))

    # ------------------------- labeled universe ----------------------- #

    def labeled(self, strategy: str = "join",
                matched: Optional[DataFrame] = None) -> DataFrame:
        """The query's LABELED universe: every row of the matching groups
        (reference F5/W2, ``query_engine.py:102-104``), pruned to the
        group column and the columns the query, step and end
        aggregations read, plus ``__fr_done``: the group's matched
        funnel-prefix length, the constant 0 without a funnel. "Group
        passed step i" is ``__fr_done > i`` on any of its rows, so the
        query's counts, every funnel step count and every aggregation
        read this one frame (see ``aggregation_df`` for the slots).
        ``strategy`` and ``matched`` pick the row construction (see
        ``rows_of_matching_groups``). ``__fr_done`` comes from the
        anchors, which are per-group constants on every row, so labeling
        adds no join.
        """
        funnel = self.q.get("funnel") or {}
        keep = [self.group_col]
        for agg in ((self.q.get("query", {}).get("aggregations") or [])
                    + (funnel.get("stepAggregations") or [])
                    + (funnel.get("endAggregations") or [])):
            for c in (agg["column"], agg.get("otherColumn")):
                if c and c not in keep:
                    keep.append(c)
        rows = self.rows_of_matching_groups(strategy, matched=matched)
        spec = self._funnel_spec
        if spec is None:
            return rows.select(*keep, F.lit(0).alias(DONE_COL))
        anchored = with_sequence_anchors(rows, spec, self.group_col,
                                         self.ts_col)
        done = reduce(operator.add,
                      [F.col(spec.anchor(i)).isNotNull().cast("int")
                       for i in range(len(spec.step_preds))])
        return anchored.select(*keep, done.alias(DONE_COL))

    def _labeled_per_group(self, labeled: DataFrame) -> DataFrame:
        return labeled.groupBy(self.group_col).agg(
            F.count(F.lit(1)).alias(ROWS_COL), F.max(DONE_COL).alias(DONE_COL))

    def funnel_per_group(self) -> Optional[DataFrame]:
        """(group, __fr_rows, __fr_done): row count + completed-step count
        per group of the funnel universe (``labeled``). ``done`` counts
        non-null anchors, valid because passing step i requires passing
        i-1; the groupBy reuses the anchor window's partitioning.
        """
        if self._funnel_spec is None:
            return None
        return self._labeled_per_group(self.labeled())

    def universe_counts(self, labeled: DataFrame) -> DataFrame:
        """``per_group_counts`` over a ``labeled`` universe. The universe
        is exactly the matched groups, so its totals double as the query
        block's counts."""
        steps = len(self._funnel_spec.step_preds) if self._funnel_spec else 0
        return per_group_counts(self._labeled_per_group(labeled), steps)

    def funnel_step_counts(self) -> Optional[DataFrame]:
        """Per-step (step, matching_groups, matching_group_rows): the
        ``universe_counts`` row through ``unpivot_step_counts``."""
        spec = self._funnel_spec
        if spec is None:
            return None
        return unpivot_step_counts(
            self.universe_counts(self.labeled()),
            len(spec.step_preds))

    # ----------------------------- aggregations ----------------------- #

    def aggregation_df(self, agg: dict, labeled: DataFrame,
                       slots: list[int]) -> DataFrame:
        """One aggregation (reference A4-A8, ``query_engine.py:61-67``)
        evaluated for several slots of the labeled universe (``labeled``)
        at once. Slot s covers the rows with ``__fr_done >= s``: slot 0
        is every universe row (the query block), slot i + 1 the rows of
        the groups that passed funnel step i, and the end aggregations
        read the last step's slot.

        ``count`` returns (slot, count). Per-value types run ONE
        ``groupBy(column)`` with per-slot conditional aggregates, unpivot
        to (slot, value, metric), drop values absent from a slot, and
        keep each slot's exact top-N as ``row_number() over (partition
        by slot order by metric desc, value asc) <= top`` — the
        reference's per-worker grace-factor approximation (A10) is
        unnecessary under Spark's exact partial/final aggregation. Spark
        plans that filter as a partial ``WindowGroupLimit`` before the
        exchange, so a high-cardinality column stays bounded per task.
        Output: (slot, rank, value, <metric>); ``rank`` orders a slot's
        top-N. ``approx: true`` switches groupsPerValue to HLL
        ``approx_count_distinct`` (SURVEY §2.4/A6; exact is the default,
        matching the reference).
        """
        col, atype = agg["column"], agg["type"]
        other = agg.get("otherColumn")
        top = int(agg.get("top", DEFAULT_TOP_COUNT))
        done = F.col(DONE_COL)

        def unpivot(fields: dict) -> Column:
            return F.inline(F.array(*[
                F.struct(F.lit(s).alias("slot"),
                         *[F.col(f"{src}{s}").alias(name)
                           for name, src in fields.items()])
                for s in slots]))

        if atype == "count":
            one = labeled.agg(*[F.count(F.when(done >= s, F.col(col)))
                                .alias(f"__m{s}") for s in slots])
            return one.select(unpivot({"count": "__m"}))
        metric = {"countPerValue": "count", "groupsPerValue": "groups",
                  "sumPerValue": "sum", "meanPerValue": "mean"}[atype]
        value = F.col(col).alias("value")
        if atype == "groupsPerValue" and not agg.get("approx", False):
            # exact distinct groups without an n-fold Expand: one row per
            # (value, group) first, then plain conditional counts
            src = labeled.groupBy(value, F.col(self.group_col).alias("__fr_g")
                                  ).agg(F.max(DONE_COL).alias(DONE_COL))
            value, member = F.col("value"), F.col("__fr_g")
        else:
            src, member = labeled, F.col(self.group_col)
        per_slot = {
            "countPerValue": lambda s: F.count(F.when(done >= s, 1)),
            "groupsPerValue": lambda s: (
                F.approx_count_distinct(F.when(done >= s, member))
                if agg.get("approx", False)
                else F.count(F.when(done >= s, member))),
            "sumPerValue": lambda s: F.sum(F.when(done >= s, F.col(other))),
            "meanPerValue": lambda s: F.avg(F.when(done >= s, F.col(other))),
        }[atype]
        aggs = []
        for s in slots:
            aggs.append(F.count(F.when(done >= s, 1)).alias(f"__p{s}"))
            aggs.append(per_slot(s).alias(f"__m{s}"))
        wide = src.groupBy(value).agg(*aggs)
        long = wide.select("value", unpivot({"__fr_present": "__p",
                                             metric: "__m"}))
        w = Window.partitionBy("slot").orderBy(F.desc(metric), F.asc("value"))
        return (long.filter(F.col("__fr_present") > 0)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= top)
                .select("slot", "rank", "value", metric))
