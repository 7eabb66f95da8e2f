"""Aggregations over watermarked streaming sequence matches.

:func:`~funnel_rocket_spark.streaming.sequence_stream.
watermarked_sequence_match` emits per-group scalars
``(group_id, steps_completed, anchor_ts, matched)`` in update mode.
This module adds the batch engine's AGGREGATION surface on top of those
matches — per-step group/row counts (``QueryPlan.funnel_step_counts``,
computed by the same ``planner.compiler`` functions over the stores'
per-group frame) and per-value aggregations over rows of groups that
passed a step (the streaming twin of countPerValue / sumPerValue /
meanPerValue / groupsPerValue evaluated by ``QueryPlan.aggregation_df``
over the labeled universe's step slots).

Design: Spark does not allow a second stateful aggregation downstream
of ``applyInPandasWithState`` in update mode, and folding row/value
counting into the match operator's Python state would put an unbounded
per-value map into every group's state. Instead the two inputs are kept
as two INDEPENDENT streaming queries over the same source, each the
cheapest possible shape:

* the match stream — per-group scalar state, Python only at the
  per-group fold;
* a per-``(group, value)`` partial-counts stream — a plain update-mode
  ``groupBy().agg()``: JVM/Tungsten state, map-side combinable, no
  Python anywhere.

Both are upserted into parquet "latest-value" stores by
:func:`upsert_latest` (a foreachBatch sink: appends each micro-batch's
changed keys stamped with the batch id). :func:`read_latest` resolves a
store to one row per key with ``max_by(values, batch_id)`` — correct
for any value monotonicity, crash-safe because a replayed micro-batch
(same batch id, same rows — Spark's foreachBatch at-least-once
contract) collapses in the ``max_by``. :func:`compact_latest` rewrites
a store to one row per key (same temp-write → swap pattern as
``streaming.compact_band_index``), bounding read cost on long-running
streams.

The aggregation READERS (:func:`sequence_step_counts`,
:func:`sequence_step_value_aggs`) are plain batch DataFrame transforms
over the two stores — run them on demand, or inside the foreachBatch
sink for continuously-maintained output. Update-mode contract: the
stores converge to the batch answer once every event is sealed (same
heartbeat/drain note as the match operator); mid-stream reads see the
answer over "events folded so far" — each group's counted rows are
always a consistent prefix-closed subset under the watermark.

Stream ≡ batch is property-tested in
tests/test_streaming_equivalence.py against the batch engine's
``funnel_step_counts`` / ``funnel_per_group`` on the same rows.
"""

from __future__ import annotations

import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from funnel_rocket_spark.planner.compiler import (
    DONE_COL,
    ROWS_COL as ROWS,
    per_group_counts,
    unpivot_step_counts,
)

MSUM = "__fr_msum"
BATCH = "__fr_batch"


def group_value_partials(events: DataFrame, group_col: str,
                         value_col: str,
                         metric_col: Optional[str] = None) -> DataFrame:
    """Cumulative per-``(group, value)`` row counts (and optional metric
    sums) as an update-mode streaming aggregation.

    State is one JVM row per distinct (group, value) — the same
    cardinality bound as the batch engine's exact groupsPerValue.
    Null values form their own key (groupBy keeps null keys), so
    ``sum(rows)`` per group equals the group's TOTAL row count — the
    step-counts reader exploits that instead of running a third
    streaming query.
    """
    aggs = [F.count(F.lit(1)).alias(ROWS)]
    if metric_col is not None:
        aggs.append(F.sum(F.col(metric_col).cast("double")).alias(MSUM))
    return (events
            .groupBy(F.col(group_col).alias("group_id"),
                     F.col(value_col).alias("value"))
            .agg(*aggs))


def upsert_latest(path: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: append the micro-batch's rows stamped with the
    batch id, one parquet file set per batch under ``path``. Replayed
    batches (foreachBatch is at-least-once on restart) overwrite
    nothing — they append duplicate (key, batch_id) rows that
    ``read_latest``'s max_by collapses deterministically."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (batch_df.withColumn(BATCH, F.lit(int(batch_id)))
         .write.mode("append").parquet(path))
    return sink


def read_latest(spark: SparkSession, path: str,
                keys: list[str]) -> DataFrame:
    """One row per key from an :func:`upsert_latest` store: the row with
    the highest batch id (``max_by`` over a struct of the value columns
    — one shuffle, no window sort)."""
    df = spark.read.parquet(path)
    vals = [c for c in df.columns if c not in keys and c != BATCH]
    packed = df.groupBy(*keys).agg(
        F.max_by(F.struct(*vals), F.col(BATCH)).alias("__v"))
    return packed.select(*keys, *[F.col(f"__v.{c}").alias(c) for c in vals])


def compact_latest(spark: SparkSession, path: str,
                   keys: list[str]) -> int:
    """Rewrite a store to one row per key (latest batch id wins),
    keeping the batch-id column so later appends still supersede it.
    Temp-write → swap → delete, same crash-safe ordering as
    ``compact_band_index``. Returns the compacted row count."""
    df = spark.read.parquet(path)
    vals = [c for c in df.columns if c not in keys]
    latest = (df.groupBy(*keys)
              .agg(F.max_by(F.struct(*vals), F.col(BATCH)).alias("__v"))
              .select(*keys,
                      *[F.col(f"__v.{c}").alias(c) for c in vals]))
    tmp = path.rstrip("/") + ".compact.tmp"
    latest.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    import shutil

    old = path.rstrip("/") + ".compact.old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n


def sequence_step_counts(spark: SparkSession, matches_path: str,
                         partials_path: str, n_steps: int) -> DataFrame:
    """Streaming twin of ``QueryPlan.funnel_step_counts``: per step,
    ``(step, matching_groups, matching_group_rows)`` over the current
    store contents — groups whose furthest step exceeds ``step`` and
    the sum of their TOTAL row counts (every arrived row of the group,
    step-matching or not, exactly like the batch per-group frame).

    The per-group frame goes through the batch plan's own
    ``per_group_counts`` and ``unpivot_step_counts``.
    """
    m = read_latest(spark, matches_path, ["group_id"]) \
        .select("group_id", F.col("steps_completed").alias(DONE_COL))
    rows = (read_latest(spark, partials_path, ["group_id", "value"])
            .groupBy("group_id").agg(F.sum(ROWS).alias(ROWS)))
    per_group = m.join(rows, "group_id", "left").na.fill({ROWS: 0})
    return unpivot_step_counts(per_group_counts(per_group, n_steps),
                               n_steps)


def sequence_step_value_aggs(spark: SparkSession, matches_path: str,
                             partials_path: str,
                             n_steps: int) -> DataFrame:
    """Per-value aggregations over rows of groups that passed each step
    — the streaming twin of countPerValue / groupsPerValue /
    sumPerValue / meanPerValue over the rows of groups with
    ``__fr_done > step`` (``QueryPlan.aggregation_df``, slot
    ``step + 1``).

    Output: one row per (step, value) with ``count`` (rows carrying the
    value in passing groups), ``groups`` (distinct passing groups
    carrying it), ``sum`` / ``mean`` (of the partials' metric column,
    null when the partials were built without one). Values never seen
    in a passing group do not appear (count 0), matching the batch
    aggregations' semantics. One aggregate pass over the joined stores,
    unpivoted with ``inline``.
    """
    m = read_latest(spark, matches_path, ["group_id"]) \
        .select("group_id", "steps_completed")
    p = read_latest(spark, partials_path, ["group_id", "value"])
    has_metric = MSUM in p.columns
    j = p.join(m, "group_id")  # inner: unmatched groups pass no step
    aggs = []
    for i in range(n_steps):
        passed = F.col("steps_completed") > F.lit(i)
        aggs.append(F.sum(F.when(passed, F.col(ROWS))).alias(f"__c{i}"))
        aggs.append(F.sum(F.when(passed, 1)).alias(f"__n{i}"))
        aggs.append(F.sum(F.when(passed, F.col(MSUM)) if has_metric
                          else F.lit(None).cast("double"))
                    .alias(f"__s{i}"))
    per_value = j.groupBy("value").agg(*aggs)
    out = per_value.select("value", F.inline(F.array(*[
        F.struct(F.lit(i).alias("step"),
                 F.col(f"__c{i}").alias("count"),
                 F.col(f"__n{i}").alias("groups"),
                 F.col(f"__s{i}").alias("sum"))
        for i in range(n_steps)])))
    return (out.where(F.col("count").isNotNull())
            .select("step", "value", "count", "groups", "sum",
                    (F.col("sum") / F.col("count")).alias("mean")))
