"""Watermarked sequence conditions over Structured Streaming.

The batch engine's ordered sequence matching — strict ``ts >`` anchor
advancement, reference ``frocket/engine/query_engine.py:221-249`` — in
incremental form, built from the engine's own parts:

* :func:`sequence_step_mask` runs the steps through the engine's
  validator against the stream's schema (shorthand filters are accepted;
  an unknown column or operator raises ``QueryValidationError`` at call
  time) and compiles them with the engine's ``filters_to_column`` into
  one bitmask column. Null semantics and the regex dialect (Java, as in
  ``rlike``) are the batch engine's, and events reach state as
  ``(event-time, step bitmask)`` pairs. A mask holds at most 63 steps.
* :func:`fold_steps` is the one fold: it advances a group's
  ``(steps, anchor, first)`` by iterated masked min, the batch
  window-anchor recurrence. ``incremental_funnel`` folds each
  micro-batch with it; :func:`watermarked_sequence_match` folds its
  sealed prefix and resolves bounded absence with it.

:func:`watermarked_sequence_match` tolerates disorder up to the
watermark delay, the standard Spark bounded-disorder contract:

* Per-group state buffers the pairs that are still inside the watermark
  window. Once the event-time watermark passes an event, no
  earlier-timestamped event can arrive (Spark's watermark guarantee), so
  the prefix below the watermark is SEALED: it folds and leaves state.
* Groups with buffered events but no new arrivals are driven by an
  EVENT-TIME TIMEOUT (``GroupStateTimeout.EventTimeTimeout``): the
  timeout is re-armed to just past the oldest buffered event, so the
  watermark advancing — not new data for the group — triggers draining.

Stream ≡ batch therefore holds for ARBITRARY arrival order, as long as
no event is later than the watermark delay. Events later than that are
folded on arrival (never retroactively) or dropped by Spark's late-data
filter — the documented watermark trade-off.

``rowFound: false`` (absence steps) is supported when ``maxDuration``
bounds the window and the first step is a found step: the group buffers
its duration window ``(first_anchor, first_anchor + maxDuration]`` and
resolves ONCE, with full lookahead, when the watermark passes the
horizon (after which no in-window event can arrive, so "no row matched"
is final). State for such groups is bounded by the duration window.
UNBOUNDED absence (no ``maxDuration``) stays an honest
``NotImplementedError`` seam: "no matching row, ever" is not decidable
under finite state.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from funnel_rocket_spark.planner.compiler import filters_to_column
from funnel_rocket_spark.validation.validator import (
    QueryValidationError,
    expand_and_validate,
)

LONG_MIN = -(2**63)
MAX_STEPS = 63  # one bit per step in a signed 64-bit mask


def sequence_step_mask(events: DataFrame, sequence: list[dict],
                       group_col: str, ts_col: str) -> tuple[list, Column]:
    """(expanded steps, step bitmask Column) for ``sequence`` over
    ``events``. The steps go through the batch engine's validator against
    the stream's schema, so shorthand filters expand and an unknown
    column, operator or value type raises ``QueryValidationError`` here,
    at call time. Bit i of the mask is step i's predicate, compiled by the
    engine's ``filters_to_column`` and evaluated by Catalyst before the
    stateful operator, so state holds two longs per event however wide
    the event rows are."""
    if len(sequence) > MAX_STEPS:
        raise QueryValidationError(
            f"Sequence has {len(sequence)} steps; streaming sequences keep "
            f"one bit per step and stop at the {MAX_STEPS}-step bitmask "
            "limit")
    schema = {f.name: f.dataType.simpleString()
              for f in events.schema.fields}
    steps = expand_and_validate(
        {"funnel": {"sequence": sequence}}, dataset_schema=schema,
        group_id_column=group_col, timestamp_column=ts_col,
    ).query["funnel"]["sequence"]
    mask = reduce(operator.add,
                  [F.when(filters_to_column(step), F.lit(1 << i))
                   .otherwise(F.lit(0)) for i, step in enumerate(steps)],
                  F.lit(0).cast("long"))
    return steps, mask


def fold_steps(ts: np.ndarray, mask: np.ndarray, steps: int, anchor,
               first, row_found: list[bool],
               max_duration=None) -> tuple[int, object, object]:
    """Advance one group's ``(steps, anchor, first)`` over events
    ``(ts, step bitmask)`` in any order, by iterated masked min: step i's
    scope is the events matching bit i strictly after the previous anchor
    (no bound before step 0) and, past step 0, within ``max_duration`` of
    the first anchor. A found step anchors at the earliest event in scope;
    an absent step (``row_found[i]`` false) passes, anchor unchanged, only
    if its scope is empty — so absence is final only over a sealed
    window. This is the batch ``with_sequence_anchors`` recurrence, and
    it equals the greedy event-order walk: an event tied with the anchor
    can never chain."""
    while steps < len(row_found):
        hit = ((mask >> steps) & 1).astype(bool)
        if steps:
            hit &= ts > anchor
            if max_duration is not None:
                hit &= ts <= first + max_duration
        if hit.any() != row_found[steps]:
            break  # a found step needs an event in scope, an absent one none
        if row_found[steps]:
            anchor = ts[hit].min().item()
            if steps == 0:
                first = anchor
        steps += 1
    return steps, anchor, first


def watermarked_sequence_match(
    events: DataFrame,
    sequence: list[dict],
    group_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    max_duration: float | None = None,
) -> DataFrame:
    """Streaming sequence-condition evaluation with bounded disorder.

    ``events`` is a streaming DataFrame whose ``ts_col`` is a TIMESTAMP
    (the watermark axis; int64-nano datasets convert via
    ``streaming.nanos_to_timestamp``). Returns an update-mode streaming
    frame ``(group_id, steps_completed, anchor_ts, matched)`` — one row
    per group per micro-batch in which sealed events advanced its state;
    ``anchor_ts`` is epoch-MICROS of the last advanced step,
    ``max_duration`` is in SECONDS on that axis (mirroring the batch
    option, which lives on the raw time axis).

    Exactness contract: equal to the batch engine on any arrival order
    whose lateness stays under ``watermark`` (property-tested in
    tests/test_streaming_equivalence.py, ties and duplicates included).

    Draining note: a group's buffered tail only seals once the WATERMARK
    passes it, and the watermark for batch N is computed from batch
    N-1's max event time. On a finite replay (``availableNow``), follow
    the data with TWO far-future heartbeat micro-batches: the first
    raises the watermark, the second runs with it — timed-out groups are
    processed in every batch whose watermark passed their timeout, new
    data for them or not. Always-on streams need no heartbeats as long
    as events keep flowing.
    """
    steps, mask = sequence_step_mask(events, sequence, group_col, ts_col)
    row_found = [step.get("rowFound", True) is not False for step in steps]
    has_absence = not all(row_found)
    if has_absence and (max_duration is None or not row_found[0]):
        # UNBOUNDED absence stays the honest seam: "no matching row,
        # ever" is not decidable under finite state. With maxDuration
        # and a found first step, every scope is bounded by
        # first_anchor + maxDuration and the bounded-absence path below
        # resolves exactly.
        raise NotImplementedError(
            "rowFound:false needs a bounded window to be evaluated "
            "incrementally: set maxDuration and keep the first step a "
            "found step")
    if not isinstance(events.schema[ts_col].dataType, T.TimestampType):
        raise ValueError(
            f"{ts_col} must be TIMESTAMP for watermarking — convert "
            "int64-nano axes with streaming.nanos_to_timestamp first")
    n_steps = len(steps)
    max_dur_us = None if max_duration is None else int(max_duration * 1e6)
    g_type = events.schema[group_col].dataType.simpleString()
    out_schema = (f"group_id {g_type}, steps_completed int, "
                  f"anchor_ts long, matched boolean")
    state_schema = ("steps_completed int, anchor long, first long, "
                    "buf_ts array<long>, buf_mask array<long>")

    # no-step rows (mask 0: heartbeats, unrelated events) are dropped at
    # BUFFER time inside the operator, not by a pre-operator filter — a
    # `where(mask != 0)` gets predicate-pushed below EventTimeWatermark
    # by Catalyst, and rows it removes would then stop driving the
    # watermark forward (observed: a heartbeat-only micro-batch left the
    # watermark frozen and the final drain never fired)
    reduced = (events
               .where(F.col(ts_col).isNotNull())
               .select(F.col(group_col),
                       F.col(ts_col).alias("__wm_ts"),
                       F.unix_micros(F.col(ts_col)).alias("__ts"),
                       mask.alias("__mask"))
               .withWatermark("__wm_ts", watermark))

    def emit(key, done: int, anchor: int) -> pd.DataFrame:
        return pd.DataFrame(
            {"group_id": [key[0]], "steps_completed": [done],
             "anchor_ts": [anchor], "matched": [done >= n_steps]})

    def keep(state, done, anchor, first, ts, mk, arm_us) -> None:
        """Store the fold scalars and the buffer, and fire the timeout as
        soon as the watermark passes ``arm_us`` (strictly past the
        current watermark)."""
        state.update((done, anchor, first, ts.tolist(), mk.tolist()))
        state.setTimeoutTimestamp(arm_us // 1000 + 1)

    def absence_update(key, ts, mk, seal_us, state):
        """Bounded-absence path: buffer the duration window, resolve
        ONCE when the watermark passes ``first + maxDuration`` (then the
        whole window is sealed — lookahead is safe), and drop the group
        from the store. State is bounded by the window: while the first
        anchor is unknown, sealed no-step-0 events are dropped (the
        eventual anchor can only be ≥ the watermark, so they can never
        land in scope); once known, only (first, first+maxDuration]
        events are kept."""
        if state.exists and state.get[0] != 0:
            # already resolved: the batch first anchor is the GLOBAL
            # min step-0 ts, so later events can never re-open the
            # group — the tombstone stops a bogus second match
            return
        first = state.get[2] if state.exists else LONG_MIN
        if first == LONG_MIN:
            sealed_a0 = ts[(ts < seal_us) & ((mk & 1) == 1)]
            if len(sealed_a0):
                first = sealed_a0.min().item()
        if first == LONG_MIN:
            # no step-0 match sealed yet → any future anchor is ≥ the
            # watermark, so sealed events can never be in its scope
            live = ts >= seal_us
            ts, mk = ts[live], mk[live]
            if len(ts):
                keep(state, 0, LONG_MIN, first, ts, mk, ts.min().item())
            elif state.exists:
                state.remove()
            return
        horizon = first + max_dur_us
        if seal_us > horizon:  # ts == horizon is in scope: strict
            done, anchor, _ = fold_steps(ts, mk, 1, first, first,
                                         row_found, max_dur_us)
            # tombstone: resolved groups keep only the scalar fold
            # state (like matched groups on the found-only path)
            state.update((done, anchor, first, [], []))
            yield emit(key, done, anchor)
            return
        live = (ts > first) & (ts <= horizon)
        keep(state, 0, LONG_MIN, first, ts[live], mk[live], horizon)

    def update(
        key: Tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        if state.exists:
            done, anchor, first, buf_ts, buf_mask = state.get
        else:
            done, anchor, first, buf_ts, buf_mask = (
                0, LONG_MIN, LONG_MIN, [], [])
        ts_parts = [np.asarray(buf_ts, dtype=np.int64)]
        mk_parts = [np.asarray(buf_mask, dtype=np.int64)]
        for pdf in batches:
            batch_mk = pdf["__mask"].to_numpy(np.int64)
            step_rows = batch_mk != 0  # no-step rows are inert
            ts_parts.append(pdf["__ts"].to_numpy(np.int64)[step_rows])
            mk_parts.append(batch_mk[step_rows])
        ts, mk = np.concatenate(ts_parts), np.concatenate(mk_parts)
        seal_us = state.getCurrentWatermarkMs() * 1000

        if has_absence:
            yield from absence_update(key, ts, mk, seal_us, state)
            return

        # Spark's watermark guarantee: no future row's event time is
        # below the current watermark, so the strictly-below prefix is
        # final — fold it and drop it
        sealed = ts < seal_us
        was = done
        done, anchor, first = fold_steps(ts[sealed], mk[sealed], done,
                                         anchor, first, row_found,
                                         max_dur_us)
        ts, mk = ts[~sealed], mk[~sealed]
        if len(ts) and done < n_steps:
            keep(state, done, anchor, first, ts, mk, ts.min().item())
        elif done > was or state.exists:
            # matched groups and drained buffers keep only the scalar
            # fold state; timeout stays unarmed (nothing left to seal)
            state.update((done, anchor, first, [], []))
        if done > was:
            yield emit(key, done, anchor)

    return reduced.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
