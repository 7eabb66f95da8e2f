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
    rows    = df.join(matched, G, "left_semi")  # universe for aggregations

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

from funnel_rocket_spark.operators._litexpr import _sql_double
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


def _step_ts_arrays(spec: SequenceSpec, df: DataFrame,
                    ts_col: str) -> list[Column]:
    """Per-step matching-timestamp arrays as aggregate expressions, the
    input of the segmented fold's per-segment chains
    (:func:`_segmented_fold_frame`): ``collect_list(when(pred_i, ts))``
    keeps exactly the rows where the step predicate holds AND ts is
    non-null (collect_list drops NULLs — a NULL pred or NULL ts could
    never advance the fold either way). Identical step predicates dedupe
    to one aggregation buffer."""
    ts, _ = ts_numeric(df, ts_col)
    return [F.collect_list(F.when(pred, ts)) for pred in spec.step_preds]


def _chain_done_sql(names: list[str], entry: int) -> str:
    """Matched-prefix length from ENTRY step over NAMED per-step ts
    array columns, as one SQL expression (no ``maxDuration`` — segmented
    callers have already turned it into a row filter).

    The ITERATED-MIN recurrence (reference W1 semantics, identical to the
    window-anchor pass): ``anchor_i = min(ts ∈ arr_i : ts > anchor_{i-1})``.
    The greedy earliest-event fold over the full event stream is
    equivalent (an event advances at most one step; strict ``ts >``
    blocks same-ts chains — the same equivalence the streaming fold
    vectorizes on), and the recurrence is far cheaper to evaluate: one
    ``array_min(filter(...))`` per step over only that step's matching
    timestamps (r12: 7.9× over a struct fold over the sorted event array
    at 10M rows). NULLs propagate the dead-chain semantics for free:
    ``x > NULL`` filters everything, array_min of empty is NULL.

    ``entry > 0`` resumes a group's scan mid-sequence inside one
    ts-range segment: the entry anchor is an event in an earlier
    segment, strictly below every timestamp here, so the first link
    needs no ``>`` filter. One ``F.expr`` parse replaces per-link
    lambda-Column construction (~500 py4j round-trips per entry index)."""
    a0 = f"array_min({names[entry]})"
    done0 = f"cast({a0} is not null as int)"
    rest = names[entry + 1:]
    if not rest:
        return done0
    nxt = "array_min(filter(arr, x -> x > acc.a))"
    return (
        "aggregate(array(" + ",".join(rest) + "),"
        f"named_struct('done',{done0},'a',{a0}),"
        f"(acc, arr) -> named_struct("
        f"'done',acc.done + cast({nxt} is not null as int),'a',{nxt})"
        ").done")


def sequence_anchor_chain(spec: SequenceSpec, df: DataFrame,
                          group_col: str, ts_col: str) -> DataFrame:
    """(group, __fr_rows, __fr_done) via n CHAINED per-group MIN
    aggregates — the whale-safe plan for sequences WITH ``rowFound:
    false`` steps (r11), which the exit-table fold can't express (it
    can't carry "nothing matched anywhere after the anchor" across
    segments).

    Key observation: the window-anchor semantics (reference W1/W3,
    ``with_sequence_anchors``) are already a RECURRENCE of per-group
    scalars — ``anchor_i = min(ts where pred_i ∧ ts > anchor_{i-1}
    [∧ ts ≤ first + maxDuration])`` for found steps, pass-through /
    NULL for absence steps — evaluated as whole-group MINs, not a
    sequential scan. So each step is one map-side-combining groupBy
    aggregate over events joined to the previous per-group anchor
    scalars: no window, no partition sort, no per-group array — no
    task ever holds more than its uniform share of one step's events.
    Cost: n event-table scans and n group-keyed exchanges (the anchor
    tables are ~n_groups rows; AQE broadcasts small ones), vs the exit
    table's 2 — the price of lookahead, paid only by absence plans.

    ``done`` is the matched-prefix length: anchors propagate NULL by
    construction, so it is simply the count of non-null anchors.
    """
    n = len(spec.step_preds)
    ts, sentinel = ts_numeric(df, ts_col)
    # step 0: prev = sentinel (non-null, below every ts), so scope is
    # just the step predicate. Absence-first steps anchor AT the
    # sentinel when nothing matches (pass-through), NULL otherwise.
    m0 = F.min(F.when(spec.step_preds[0], ts))
    a0 = m0 if spec.row_found[0] else F.when(m0.isNull(), sentinel)
    acc = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias(ROWS_COL), a0.alias("__fr_ca0"))
    # the maxDuration window starts at the first FOUND step's anchor
    # (same rule as with_sequence_anchors: an absence-first step passes
    # the sentinel through, and anchoring the duration window THERE
    # would make every later step impossible)
    first_idx = next((i for i, fnd in enumerate(spec.row_found) if fnd),
                     None)
    for i in range(1, n):
        prev_col = f"__fr_ca{i - 1}"
        scal_cols = [F.col(prev_col).alias("__fr_prev")]
        with_dur = (spec.max_duration is not None
                    and first_idx is not None and first_idx < i)
        if with_dur:
            scal_cols.append(
                F.col(f"__fr_ca{first_idx}").alias("__fr_dur0"))
        # only groups still alive join back against the events — dead
        # groups (NULL prev) stay NULL for every later anchor
        scal = (acc.filter(F.col(prev_col).isNotNull())
                .select(group_col, *scal_cols))
        scoped = (spec.step_preds[i] & (ts > F.col("__fr_prev")))
        if with_dur:
            scoped = scoped & (ts <= F.col("__fr_dur0")
                               + F.lit(spec.max_duration))
        m = (df.join(scal, group_col)
             .groupBy(group_col)
             .agg(F.min(F.when(scoped, ts)).alias("__fr_m")))
        acc = acc.join(m, group_col, "left")
        if spec.row_found[i]:
            a_i = F.col("__fr_m")
        else:  # absence: anchor passes through iff nothing matched
            a_i = F.when(F.col(prev_col).isNotNull()
                         & F.col("__fr_m").isNull(), F.col(prev_col))
        acc = acc.withColumn(f"__fr_ca{i}", a_i).drop("__fr_m")
    done = reduce(operator.add,
                  [F.col(f"__fr_ca{i}").isNotNull().cast("int")
                   for i in range(n)])
    return acc.select(group_col, ROWS_COL, done.alias(DONE_COL))


def sequence_fold_done_segmented(spec: SequenceSpec, df: DataFrame,
                                 group_col: str, ts_col: str,
                                 n_segments: int = 64,
                                 bounds: list | None = None) -> DataFrame:
    """(group, __fr_rows, __fr_done) via per-(group, ts-range-segment)
    partial folds merged through an associative exit table — the
    whale-group alternative to window anchors.

    Any per-group plan puts an entire group in ONE task (window
    partition sort or a whole-group collect_list fold), so a bot group
    with tens of millions of events serializes there (measured: a
    whole-group fold cliffs 8.4× with 20% of a 100M stream in one group
    — README whale rung). Here a
    group's events split across ``n_segments`` time-range segments, each
    folded in its own task, and only the tiny per-segment EXIT TABLES
    meet per group.

    Why exit tables compose exactly: segments are ts-range buckets
    (boundaries = global approxQuantiles; bucket is a pure function of
    ts, so tied timestamps never split). Any entry anchor reaching
    segment s is an event timestamp from an earlier bucket — strictly
    below every event in s — so inside s the strict-``>`` check against
    it always passes and the fold's outcome depends ONLY on the entry
    step index. A segment is therefore summarized by the (n_steps+1)-
    entry vector ``exit_done[entry]``, and the group-level merge is a
    fold of those vectors in bucket order: ``done := exits[done]``.
    One extra (small) exchange vs a whole-group fold, in exchange for
    whale-proof task sizing.

    ``maxDuration`` takes a different (still whale-proof) shape — see
    :func:`_segmented_fold_max_duration`; ``rowFound: false`` takes a
    third (r11) — see :func:`sequence_anchor_chain` (the exit table
    can't express lookahead, the anchor recurrence can).
    """
    if not all(spec.row_found):
        return sequence_anchor_chain(spec, df, group_col, ts_col)
    if spec.max_duration is not None:
        return _segmented_fold_max_duration(
            spec, df, group_col, ts_col, n_segments, bounds)
    return _segmented_fold_frame(
        spec, df, group_col, ts_col, n_segments, bounds, init_done=0)


def _segmented_fold_frame(spec: SequenceSpec, df: DataFrame,
                          group_col: str, ts_col: str,
                          n_segments: int, bounds: list | None,
                          init_done: int) -> DataFrame:
    """The exit-table machinery shared by the plain segmented fold
    (``init_done=0``) and the maxDuration variant (``init_done=1`` over
    the duration-windowed event set). ``spec.max_duration`` must be
    None here: callers either have no duration bound or have already
    turned it into a row filter."""
    assert spec.max_duration is None
    n = len(spec.step_preds)
    ts, _ = ts_numeric(df, ts_col)
    if bounds is None:
        # global ts-quantile boundaries: one cheap scan, count-balanced
        # even when event time is skewed. Duplicates collapse (heavy ties
        # share a bucket by construction — required for strict->
        # exactness anyway). NB this runs a job NOW — plan-building
        # callers pass memoized bounds (QueryPlan._segment_bounds) so
        # rebuilding a frame never re-scans, and plan-equality caches
        # see identical literals across rebuilds.
        probs = [i / n_segments for i in range(1, n_segments)]
        bounds = sorted(set(
            df.select(ts.alias("__fr_ts")).approxQuantile(
                "__fr_ts", probs, 0.001))) if probs else []
    if bounds:
        # segment = #bounds ≤ ts. Keep the codegen'd when-chain shape (a
        # size(filter(<63-element literal array>)) HOF is interpreted
        # per ROW — measured 0.8 → 1.9 s CPU on fr_sequence_segmented)
        # but render it as ONE parsed expression over a staged ts
        # column: the per-bound Column loop cost ~6 py4j round-trips per
        # boundary (~400 driver calls at 64 segments, every plan build).
        df = df.withColumn("__fr_tsn", ts)
        seg = F.expr(" + ".join(
            f"(case when __fr_tsn >= {_sql_double(b)} then 1 else 0 end)"
            for b in bounds))
    else:
        seg = F.lit(0)

    # per-(group, segment) per-step matching-ts arrays, then one
    # iterated-min chain per ENTRY index (r12 — replaces n evaluations
    # of the interpreted struct fold over a sorted all-events array;
    # see _chain_done_sql for the equivalence and the measurement).
    # Any entry anchor reaching this segment is strictly below every
    # timestamp here, so chain link 0 is a bare array_min.
    arrs = _step_ts_arrays(spec, df, ts_col)
    seg_rows = (df.groupBy(F.col(group_col), seg.alias("__fr_seg"))
                .agg(F.count(F.lit(1)).alias("__fr_prows"),
                     *[a.alias(f"__fr_a{i}") for i, a in enumerate(arrs)]))
    # the full exit vector as ONE parsed expression over the named
    # per-step array columns: per-entry Column-API chains cost ~500 py4j
    # round-trips per entry index (measured 0.79 s of the
    # fr_sequence_segmented build).
    anames = [f"__fr_a{i}" for i in range(n)]
    exits = F.expr("array(" + ",".join(
        [f"{e} + {_chain_done_sql(anames, e)}" for e in range(n)]
        + [str(n)]) + ")")  # entry n: already matched, stays matched
    seg_tbl = seg_rows.select(group_col, "__fr_seg", "__fr_prows",
                              exits.alias("__fr_x"))
    segs_sorted = F.array_sort(F.collect_list(F.struct(
        F.col("__fr_seg").alias("s"), F.col("__fr_x").alias("x"))))
    done = F.aggregate(
        segs_sorted, F.lit(init_done),
        lambda acc, sg: F.element_at(sg["x"], acc + 1))
    return seg_tbl.groupBy(group_col).agg(
        F.sum("__fr_prows").alias(ROWS_COL),
        done.alias(DONE_COL))


def _segmented_fold_max_duration(spec: SequenceSpec, df: DataFrame,
                                 group_col: str, ts_col: str,
                                 n_segments: int,
                                 bounds: list | None) -> DataFrame:
    """Segmented fold for sequences WITH ``maxDuration`` — the
    whale × maxDuration combination the exit table alone can't express.

    Why it decomposes exactly: the fold's semantics are greedy-first —
    step 0 anchors at the group's EARLIEST step-0 event and never
    re-anchors (a timed-out state simply stops
    advancing). So the continuous quantity the exit table couldn't
    carry, ``first``, is a plain per-group aggregate:
    ``min(ts) where p0`` — map-side-combining, whale-proof. With
    ``first`` a known per-group constant F:

    * only events in ``(F, F + maxDuration]`` can advance steps ≥ 1
      (strict-``>`` excludes ts ≤ F; the duration check excludes the
      rest, and in the whole-stream fold those events are no-ops for EVERY
      step index, so dropping them changes nothing);
    * inside that window the duration check is vacuous — the fold
      degenerates to the duration-free fold with entry done=1, where
      the segmented exit-table argument applies verbatim (the entry
      anchor reaching a segment is F or an earlier-bucket event, both
      strictly below every event in the segment).

    Three group-keyed exchanges (rows count, F table, the windowed
    two-level fold) plus joins of the event stream against the
    per-group-scalar F table (AQE broadcasts a small F table and
    skew-splits a whale partition on a big one). No per-group task ever
    holds more than one segment of one group's events.
    """
    ts, _ = ts_numeric(df, ts_col)
    stripped = SequenceSpec(step_preds=spec.step_preds,
                            row_found=spec.row_found,
                            max_duration=None, prefix=spec.prefix)

    # ONE base aggregate serves both consumers — the duration-window
    # join and the final coalesce join: per-group row count + the greedy
    # first anchor (min ts where p0; groups with no p0 row get NULL).
    # Both references share the identical exchange+partial-aggregate
    # subtree, so Spark's ReuseExchange / AQE stage reuse executes the
    # full-stream aggregate ONCE per query (plan-gated by
    # tests/test_plans.py::test_segmented_max_duration_reuses_base_agg);
    # the previous shape aggregated the anchor table twice — once as a
    # bare rows_tbl, once filtered — with no reusable subtree.
    base = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias(ROWS_COL),
        F.min(F.when(spec.step_preds[0], ts)).alias("__fr_first"))
    first_tbl = (base.filter(F.col("__fr_first").isNotNull())
                 .select(group_col, "__fr_first"))
    win = (df.join(first_tbl, group_col)
           .filter((ts > F.col("__fr_first"))
                   & (ts <= F.col("__fr_first")
                      + F.lit(spec.max_duration))))
    done_tbl = _segmented_fold_frame(
        stripped, win.drop("__fr_first"), group_col, ts_col,
        n_segments, bounds, init_done=1).select(
            group_col, F.col(DONE_COL).alias("__fr_wdone"))

    # groups with a step-0 anchor but no in-window events sit at done=1
    # (or n for a single-step sequence); groups with no step-0 event at 0
    return (base
            .join(done_tbl, group_col, "left")
            .select(group_col, ROWS_COL,
                    F.coalesce(
                        F.col("__fr_wdone"),
                        F.when(F.col("__fr_first").isNotNull(), F.lit(1)),
                        F.lit(0)).alias(DONE_COL)))


class QueryPlan:
    """Lazy compilation of one expanded query over one DataFrame.

    Every public method returns an unexecuted DataFrame; callers compose/collect.

    ``sequence_strategy``: how sequences evaluate — ``"window"`` uses
    window-min anchors everywhere (one group-keyed exchange + partition
    sort; the groupBy reuses its partitioning); ``"fold_segmented"``
    splits each group across ``fold_segments`` ts-range segments folded
    in parallel tasks and merges the tiny per-segment exit tables — the
    whale-group shape (``maxDuration`` takes the first-anchor-join form,
    ``rowFound:false`` the anchor-chain form, see
    :func:`sequence_fold_done_segmented`).

    ``"auto"`` (default) picks between the two from the registration
    profile's group-size histogram (``group_rows_topk_hint`` +
    ``total_rows_hint`` — free at plan time): a cost model of the
    slowest window task vs the segmented fold's bounded task, so whale
    protection never requires the operator to know the whale exists.
    Without the histogram it keeps window anchors. ``auto_routed_segmented``
    and ``auto_route_reason`` record the decision for observability.
    """

    def __init__(self, df: DataFrame, expanded: ExpandedQuery,
                 group_col: str, ts_col: str,
                 sequence_strategy: str = "auto",
                 fold_segments: int = 64,
                 total_rows_hint: Optional[int] = None,
                 group_rows_topk_hint: Optional[list[int]] = None,
                 segmented_cost_premium: float = 20.0,
                 whale_hard_cap_rows: int = 2_000_000_000,
                 sorted_layout_hint: bool = False):
        if sequence_strategy not in ("auto", "window", "fold_segmented"):
            raise ValueError(
                "sequence_strategy must be auto|window|fold_segmented: "
                f"{sequence_strategy!r}")
        self.sequence_strategy = sequence_strategy
        self.fold_segments = fold_segments
        self.group_rows_topk_hint = group_rows_topk_hint
        self.segmented_cost_premium = segmented_cost_premium
        self.whale_hard_cap_rows = whale_hard_cap_rows
        self.sorted_layout_hint = sorted_layout_hint
        self.auto_routed_segmented = False
        self.auto_route_reason: Optional[str] = None
        self.route_estimates: Optional[dict] = None
        self._seg_bounds_cache: dict[int, list] = {}
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

        # Skew-aware auto routing: the window-anchor pass serializes each
        # group into one task (partition sort), so a whale group can flip
        # "auto" to the segmented fold. Hints come for free from the
        # registration profile; with no hint, auto keeps window anchors
        # (no plan-time probe job — planning must stay job-free for
        # sub-second queries). Routing is all-or-nothing: every spec in
        # the plan takes the same strategy.
        #
        # The decision is a COST MODEL over the group-size HISTOGRAM
        # (Dataset.group_rows_topk + total rows): the window strategy's
        # wall-clock is its slowest task, estimated by greedy-packing the
        # top-K group sizes onto shuffle partitions over the uniform
        # remainder; the segmented fold's tasks are bounded (uniform
        # share + top1/fold_segments) but each row costs
        # ~segmented_cost_premium more (measured ~20× on the 100M rung:
        # ~22 µs/row interpreted two-level fold vs ~1 µs/row codegen
        # external sort — tools/rung_whale_100m_r10.json, where a 20M-row
        # whale takes the segmented fold 73.5 s and the window sort
        # 23.2 s). Route segmented only when modeled window wall-clock
        # exceeds premium × segmented task bound, or past
        # whale_hard_cap_rows — the task size where one straggler's
        # spill (~100 GB at 1e9 rows) risks stalling an executor
        # regardless of modeled speed. Knobs in docs/operating.md.
        conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        try:
            parts = int(conf)
        except ValueError:  # e.g. "auto" on AQE-managed platforms
            parts = df.sparkSession.sparkContext.defaultParallelism

        topk = sorted((int(c) for c in (group_rows_topk_hint or [])
                       if c and int(c) > 0), reverse=True)
        route = False
        if self.sequence_strategy == "auto":
            if sorted_layout_hint and not (topk
                                           and topk[0] > whale_hard_cap_rows):
                # Declared bucketBy(group) + sortBy(group, ts) layout
                # (r12): the scan itself delivers group-clustered,
                # ts-ordered rows, so the window-anchor pass pays NO
                # exchange and NO sort — the whale sort cliff the
                # segmented fold exists to dodge isn't there, while the
                # fold still pays its interpreted per-row premium. Stay
                # on window anchors regardless of the histogram verdict
                # (rung: tools/scale_check.py bucketed). The hard cap
                # still wins above: WindowExec buffers each group's rows
                # (spilling past a threshold), so a single group beyond
                # whale_hard_cap_rows keeps its straggler-spill risk even
                # sort-free.
                self.auto_route_reason = "sorted_layout_window"
            elif topk and total_rows_hint:
                total = max(int(total_rows_hint), sum(topk))
                base = (total - sum(topk)) / parts
                bins = [base] * max(1, min(parts, len(topk)))
                for c in topk:  # greedy LPT: largest into lightest bin
                    bins[bins.index(min(bins))] += c
                window_task = max(bins)
                seg_task = total / parts + topk[0] / max(fold_segments, 1)
                self.route_estimates = {
                    "window_task_rows": int(window_task),
                    "segmented_task_rows": int(seg_task),
                    "premium": segmented_cost_premium,
                }
                if topk[0] > whale_hard_cap_rows:
                    route, self.auto_route_reason = True, "hard_cap"
                elif window_task > segmented_cost_premium * seg_task:
                    route, self.auto_route_reason = True, "cost_model"
                else:
                    self.auto_route_reason = "cost_model_window"
        if route:
            specs = list(self._seq_specs.values())
            if self._funnel_spec is not None:
                specs.append(self._funnel_spec)
            # every spec shape is segmentable since r11 (rowFound:false
            # takes the anchor-chain form), so a whale verdict always has
            # a whale-safe plan to route to
            if specs:
                self.sequence_strategy = "fold_segmented"
                self.auto_routed_segmented = True

    # ------------------------------------------------------------------ #

    def _use_segmented(self, spec: SequenceSpec) -> bool:
        """fold_segmented resolution. Since r11 it accepts EVERY spec:
        maxDuration takes the first-anchor-join form, rowFound:false the
        anchor-chain form (see sequence_fold_done_segmented)."""
        return self.sequence_strategy == "fold_segmented"

    def _segment_bounds(self, spec: SequenceSpec) -> list:
        """Memoized ts-quantile segment boundaries for one sequence spec,
        computed ONCE over the plan's base frame. Correctness needs only
        a monotone pure-function-of-ts bucketing (ties never split), so
        base-frame quantiles serve every universe built from this plan —
        and rebuilding a funnel frame neither re-runs the quantile job
        nor bakes different literals into plan-equality-cached plans.

        The quantile job is additionally memoized PER SESSION, keyed by
        the base frame's canonicalized plan (semanticHash) + ts column +
        segment count: ``approxQuantile`` is an eager ~0.35 s driver
        round-trip that every fresh plan over the same immutable frame
        re-paid. This is a load-balancing statistic, not a result —
        results are invariant to the bounds by the monotone-bucketing
        argument above (any bounds give identical output, only the
        segment sizes shift) — so reuse can never change what a query
        computes; the memo dies with the session."""
        key = id(spec)
        if key not in self._seg_bounds_cache:
            probs = [i / self.fold_segments
                     for i in range(1, self.fold_segments)]
            if not probs:
                self._seg_bounds_cache[key] = []
                return self._seg_bounds_cache[key]
            sess = self.df.sparkSession
            memo = getattr(sess, "_frs_seg_bounds_memo", None)
            if memo is None:
                memo = {}
                sess._frs_seg_bounds_memo = memo
            try:
                # semanticHash is 32-bit — schema.simpleString() rides
                # along as a collision disambiguator so two distinct base
                # frames can never silently share bounds (degenerate
                # segment sizing, though never wrong results).
                mkey = (self.df.semanticHash(),
                        self.df.schema.simpleString(), self.ts_col,
                        self.fold_segments)
            except Exception:
                mkey = None
            if mkey is None or mkey not in memo:
                ts, _ = ts_numeric(self.df, self.ts_col)
                bounds = sorted(set(
                    self.df.select(ts.alias("__fr_ts")).approxQuantile(
                        "__fr_ts", probs, 0.001)))
                if mkey is None:
                    self._seg_bounds_cache[key] = bounds
                    return bounds
                memo[mkey] = bounds
            self._seg_bounds_cache[key] = memo[mkey]
        return self._seg_bounds_cache[key]

    def _df_with_condition_anchors(self) -> DataFrame:
        df = self.df
        for spec in self._seq_specs.values():
            if not self._use_segmented(spec):
                # segmented specs must not attach anchors: the
                # window expressions are unreferenced (pruned today), but
                # any consumer touching one would re-introduce the
                # single-task whale sort this strategy exists to avoid
                df = with_sequence_anchors(df, spec, self.group_col, self.ts_col)
        return df

    def per_group(self) -> DataFrame:
        """One row per group: ``__cond_i`` boolean flags + per-group row count.

        Single groupBy pass — Spark's partial/final HashAggregate replaces the
        reference's per-part results + invoker reduce (reference A12,
        ``common/tasks/query.py:84-134``). Sequence conditions attach
        window-min anchors first (the groupBy reuses the window's
        partitioning — still one data exchange), or, under
        ``fold_segmented``, are evaluated as their own two-level
        aggregation and joined back on the group key.
        """
        aggs = [F.count(F.lit(1)).alias(ROWS_COL)]
        segmented: list[int] = []
        for i, cond in enumerate(self._conditions):
            if "sequence" in cond:
                spec = self._seq_specs[i]
                if self._use_segmented(spec):
                    # evaluated as its own two-level aggregation below,
                    # joined back on the group key (both sides are
                    # group-keyed aggregates — the join reuses the hash
                    # partitioning, no extra full-table exchange)
                    segmented.append(i)
                    continue
                flag = F.max(F.col(spec.last_anchor).isNotNull())
            else:
                flag = _target_flag(filters_to_column(cond), cond)
            aggs.append(F.coalesce(flag, F.lit(False)).alias(f"{COND_PREFIX}{i}"))
        out = self._df_with_condition_anchors().groupBy(self.group_col).agg(*aggs)
        for i in segmented:
            spec = self._seq_specs[i]
            n = len(spec.step_preds)
            done = sequence_fold_done_segmented(
                spec, self.df, self.group_col, self.ts_col,
                self.fold_segments, bounds=self._segment_bounds(spec))
            flag_df = done.select(
                self.group_col,
                (F.col(DONE_COL) == n).alias(f"{COND_PREFIX}{i}"))
            out = out.join(flag_df, self.group_col, "left").withColumn(
                f"{COND_PREFIX}{i}",
                F.coalesce(F.col(f"{COND_PREFIX}{i}"), F.lit(False)))
        return out

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
        return mg.agg(
            F.count(F.lit(1)).alias("matching_groups"),
            F.coalesce(F.sum(ROWS_COL), F.lit(0)).alias("matching_group_rows"),
        )

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
        ``helpers/pandas.py:20-37``): the universe for aggregations + funnel.

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

        ``strategy="hash_join"``: the semi join with a ``shuffle_hash``
        hint — the big side shuffles but is NEVER sorted (the matched
        side builds per-partition hash tables). This is the
        many-groups-match shape for SEGMENTED-FOLD sequence plans, whose
        condition flags aren't window-expressible without re-introducing
        the whale partition sort the fold was chosen to avoid; it keeps
        the window universe's no-big-sort property at the price of one
        extra small exchange (r11; rung: tools/scale_check.py universe).

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
        matched = matched.select(self.group_col)
        if strategy == "hash_join":
            matched = matched.hint("shuffle_hash")
        return self.df.join(matched, on=self.group_col, how="left_semi")

    def _rows_windowed(self) -> DataFrame:
        """Join-free row universe: condition flags as window aggregates.

        Sequence conditions ride their anchor columns (window-computed
        already); segmented-fold sequences would need the whale partition
        sort that strategy avoids, so they take the join path at the
        caller.
        """
        w = Window.partitionBy(self.group_col)
        df = self._df_with_condition_anchors()
        original_cols = self.df.columns
        for i, cond in enumerate(self._conditions):
            if "sequence" in cond:
                spec = self._seq_specs[i]
                if self._use_segmented(spec):
                    raise ValueError(
                        "windowed row universe requires anchor-strategy "
                        f"sequences (sequence_strategy="
                        f"{self.sequence_strategy!r} set)")
                flag = F.max(F.col(spec.last_anchor).isNotNull()).over(w)
            else:
                flag = _target_flag(filters_to_column(cond), cond,
                                    over=lambda c: c.over(w))
            df = df.withColumn(f"{COND_PREFIX}{i}",
                               F.coalesce(flag, F.lit(False)))
        return df.filter(self.relation_column()).select(*original_cols)

    # ----------------------------- aggregations ----------------------- #

    def aggregation_df(self, agg: dict, rows: DataFrame) -> DataFrame:
        """One aggregation (reference A4-A8, ``query_engine.py:61-67``) over a
        row universe. Per-value maps return (value, <agg>) DataFrames trimmed to
        exact top-K by value desc — the reference's per-worker grace-factor
        approximation (A10) is unnecessary under Spark's exact partial/final agg.
        """
        col, atype = agg["column"], agg["type"]
        other = agg.get("otherColumn")
        top = int(agg.get("top", DEFAULT_TOP_COUNT))
        if atype == "count":
            return rows.agg(F.count(F.col(col)).alias("count"))
        # approx=true switches groupsPerValue to HLL approx_count_distinct —
        # the scale option SURVEY §2.4/A6 calls for (exact is the default,
        # matching the reference)
        groups_agg = (
            F.approx_count_distinct(F.col(self.group_col))
            if agg.get("approx", False)
            else F.count_distinct(F.col(self.group_col))
        ).alias("groups")
        per_value = {
            "countPerValue": F.count(F.lit(1)).alias("count"),
            "groupsPerValue": groups_agg,
            "sumPerValue": F.sum(F.col(other)).alias("sum") if other else None,
            "meanPerValue": F.avg(F.col(other)).alias("mean") if other else None,
        }[atype]
        out = rows.groupBy(F.col(col).alias("value")).agg(per_value)
        metric = out.columns[-1]
        return out.orderBy(F.desc(metric), F.asc("value")).limit(top)

    def aggregations(self, rows: Optional[DataFrame] = None) -> list[tuple[dict, DataFrame]]:
        aggs = self.q.get("query", {}).get("aggregations") or []
        if not aggs:
            return []
        rows = rows if rows is not None else self.rows_of_matching_groups()
        return [(a, self.aggregation_df(a, rows)) for a in aggs]

    # ------------------------------- funnel ---------------------------- #

    def funnel_labeled(self, strategy: str = "join",
                       matched: Optional[DataFrame] = None
                       ) -> Optional[DataFrame]:
        """The LABELED funnel universe: every row of the funnel universe
        (reference W2 — rows of groups matching the query conditions,
        ``query_engine.py:102-104``), pruned to the group column and the
        columns the funnel's step and end aggregations read, plus
        ``__fr_done``, the group's matched-prefix length. "Group passed
        step i" is ``__fr_done > i`` on any of its rows, so every step
        count and every step/end aggregation reads this one frame.
        ``strategy`` picks the universe construction (see
        ``rows_of_matching_groups``).

        Window-anchor plans compute ``__fr_done`` from the anchors, which
        are per-group constants on every row: no join, one group-keyed
        exchange. ``fold_segmented`` plans join the rows once to the
        fold's (group, ``__fr_done``) frame; ``strategy="hash_join"``
        hints that join ``shuffle_hash`` (big side shuffled, never
        sorted) for universes too large to broadcast.
        """
        spec = self._funnel_spec
        if spec is None:
            return None
        funnel = self.q["funnel"]
        keep = [self.group_col]
        for agg in ((funnel.get("stepAggregations") or [])
                    + (funnel.get("endAggregations") or [])):
            for c in (agg["column"], agg.get("otherColumn")):
                if c and c not in keep:
                    keep.append(c)
        rows = self.rows_of_matching_groups(strategy, matched=matched)
        if self._use_segmented(spec):
            done = self.funnel_per_group(strategy, matched=matched).select(
                self.group_col, DONE_COL)
            if strategy == "hash_join":
                done = done.hint("shuffle_hash")
            return rows.select(*keep).join(done, self.group_col)
        anchored = with_sequence_anchors(rows, spec, self.group_col,
                                         self.ts_col)
        done = reduce(operator.add,
                      [F.col(spec.anchor(i)).isNotNull().cast("int")
                       for i in range(len(spec.step_preds))])
        return anchored.select(*keep, done.alias(DONE_COL))

    def funnel_per_group(self, strategy: str = "join",
                         matched: Optional[DataFrame] = None
                         ) -> Optional[DataFrame]:
        """(group, __fr_rows, __fr_done): row count + completed-step count
        per group of the funnel universe. ``strategy`` picks the universe
        construction (see ``rows_of_matching_groups``).

        Window-anchor plans aggregate the labeled universe (``done``
        counts non-null anchors — valid because passing step i requires
        passing i-1; the groupBy reuses the anchor window's partitioning);
        ``fold_segmented`` plans compute ``done`` with the segmented fold.
        """
        spec = self._funnel_spec
        if spec is None:
            return None
        if self._use_segmented(spec):
            return sequence_fold_done_segmented(
                spec, self.rows_of_matching_groups(strategy, matched=matched),
                self.group_col, self.ts_col,
                self.fold_segments, bounds=self._segment_bounds(spec))
        return self.funnel_labeled(strategy, matched=matched).groupBy(
            self.group_col).agg(F.count(F.lit(1)).alias(ROWS_COL),
                                F.max(DONE_COL).alias(DONE_COL))

    def funnel_counts(self, per_group: DataFrame) -> DataFrame:
        """ONE row over a ``funnel_per_group`` frame: the universe's
        ``matching_groups`` / ``matching_group_rows`` and, for each step
        i, ``__g{i}`` / ``__r{i}`` — the groups that passed step i and
        their rows. The funnel universe is exactly the matched groups, so
        the totals double as the query block's counts."""
        aggs = [F.count(F.lit(1)).alias("matching_groups"),
                F.coalesce(F.sum(ROWS_COL), F.lit(0))
                .alias("matching_group_rows")]
        for i in range(len(self._funnel_spec.step_preds)):
            passed = F.col(DONE_COL) > F.lit(i)
            aggs.append(F.coalesce(F.sum(F.when(passed, 1)), F.lit(0))
                        .alias(f"__g{i}"))
            aggs.append(F.coalesce(F.sum(F.when(passed, F.col(ROWS_COL))),
                                   F.lit(0)).alias(f"__r{i}"))
        return per_group.agg(*aggs)

    def funnel_step_counts(self, strategy: str = "join",
                           matched: Optional[DataFrame] = None
                           ) -> Optional[DataFrame]:
        """Per-step (step, matching_groups, matching_group_rows): the
        ``funnel_counts`` row unpivoted with ``inline``."""
        spec = self._funnel_spec
        if spec is None:
            return None
        one = self.funnel_counts(self.funnel_per_group(strategy,
                                                       matched=matched))
        return one.select(F.inline(F.array(*[
            F.struct(F.lit(i).alias("step"),
                     F.col(f"__g{i}").alias("matching_groups"),
                     F.col(f"__r{i}").alias("matching_group_rows"))
            for i in range(len(spec.step_preds))])))

    def funnel_aggregation_df(self, agg: dict, labeled: DataFrame,
                              steps: list[int]) -> DataFrame:
        """One aggregation evaluated for several funnel steps at once over
        the labeled universe (``funnel_labeled``): for each step i in
        ``steps``, the same answer as ``aggregation_df`` over the rows of
        the groups that passed step i (``__fr_done > i``).

        ``count`` returns (step, count). Per-value types run ONE
        ``groupBy(column)`` with per-step conditional aggregates, unpivot
        to (step, value, metric), drop values absent from a step, and
        keep each step's top-N as ``row_number() over (partition by step
        order by metric desc, value asc) <= top`` — the ordering of
        ``aggregation_df``'s ``orderBy(desc, asc).limit(top)``. Spark
        plans that filter as a partial ``WindowGroupLimit`` before the
        exchange, so a high-cardinality column stays bounded per task.
        Output: (step, rank, value, <metric>); ``rank`` orders a step's
        top-N.
        """
        col, atype = agg["column"], agg["type"]
        other = agg.get("otherColumn")
        top = int(agg.get("top", DEFAULT_TOP_COUNT))
        done = F.col(DONE_COL)

        def unpivot(fields: dict) -> Column:
            return F.inline(F.array(*[
                F.struct(F.lit(i).alias("step"),
                         *[F.col(f"{src}{i}").alias(name)
                           for name, src in fields.items()])
                for i in steps]))

        if atype == "count":
            one = labeled.agg(*[F.count(F.when(done > i, F.col(col)))
                                .alias(f"__m{i}") for i in steps])
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
        per_step = {
            "countPerValue": lambda i: F.count(F.when(done > i, 1)),
            "groupsPerValue": lambda i: (
                F.approx_count_distinct(F.when(done > i, member))
                if agg.get("approx", False)
                else F.count(F.when(done > i, member))),
            "sumPerValue": lambda i: F.sum(F.when(done > i, F.col(other))),
            "meanPerValue": lambda i: F.avg(F.when(done > i, F.col(other))),
        }[atype]
        aggs = []
        for i in steps:
            aggs.append(F.count(F.when(done > i, 1)).alias(f"__p{i}"))
            aggs.append(per_step(i).alias(f"__m{i}"))
        wide = src.groupBy(value).agg(*aggs)
        long = wide.select("value", unpivot({"__fr_present": "__p",
                                             metric: "__m"}))
        w = Window.partitionBy("step").orderBy(F.desc(metric), F.asc("value"))
        return (long.filter(F.col("__fr_present") > 0)
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= top)
                .select("step", "rank", "value", metric))
