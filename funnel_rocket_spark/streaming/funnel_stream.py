"""Incremental funnel over Structured Streaming.

EXTENSION beyond the reference: funnel-rocket is strictly batch (its
"streaming" is HTTP progress chunks, reference ``docs/api.md:93-128``).
The natural Spark expression of an always-on funnel is
``applyInPandasWithState``: per-group state carries (furthest step
reached, anchor timestamp of that step, first anchor); each micro-batch
advances it with the batch engine's greedy earliest-event semantics
(strict ``ts >`` anchor, reference ``query_engine.py:221-249``).

The steps are the engine's own: ``sequence_stream.sequence_step_mask``
validates them against the stream's schema (shorthand is accepted, an
unknown column or operator raises ``QueryValidationError`` at call time)
and compiles them with ``filters_to_column`` into a step bitmask that
Catalyst evaluates before the stateful operator — regex is Java's, as
in the batch engine. Each micro-batch reaches the operator as
``(ts, mask)`` pairs and folds through ``sequence_stream.fold_steps``.

Semantics/caveats:
* Intra-batch disorder is fine: the fold takes minima, not an order.
* Cross-batch late events cannot retroactively advance an earlier step
  (standard streaming trade-off; ``watermarked_sequence_match`` handles
  bounded disorder).
* ``rowFound: false`` steps are rejected — absence-over-unbounded-future is
  not decidable incrementally.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from funnel_rocket_spark.streaming.sequence_stream import (
    fold_steps,
    sequence_step_mask,
)

# schemas are built per-call from the actual group/ts column types:
# forcing anchor_ts through double would quantize int64 epoch-nanos to
# ~256 ns steps and break strict ts > anchor comparisons — the exact
# hazard planner.compiler.ts_numeric documents for the batch engine


def incremental_funnel(
    events: DataFrame,
    sequence: list[dict],
    group_col: str,
    ts_col: str,
    timeout: str = "NoTimeout",
    max_duration: float | None = None,
) -> DataFrame:
    """events (streaming DF) → per-group funnel progress updates.

    Returns a streaming DataFrame (group_id, steps_completed, anchor_ts)
    in update mode — one row per group per batch in which its state changed.

    ``max_duration`` mirrors the batch engine option: steps ≥ 1 only
    advance within ``max_duration`` of the FIRST step's anchor (the
    per-group state carries that anchor, so the bound holds across
    micro-batches).
    """
    steps, mask = sequence_step_mask(events, sequence, group_col, ts_col)
    if any(step.get("rowFound", True) is False for step in steps):
        raise NotImplementedError(
            "rowFound:false cannot be evaluated incrementally")
    row_found = [True] * len(steps)
    g_type = events.schema[group_col].dataType.simpleString()
    ts_type = events.schema[ts_col].dataType.simpleString()
    out_schema = (f"group_id {g_type}, steps_completed int, "
                  f"anchor_ts {ts_type}")
    state_schema = (f"steps_completed int, anchor_ts {ts_type}, "
                    f"first_ts {ts_type}")
    # Null-ts rows are inert (the batch engine's null-coalesced predicates
    # never match them) and so are rows matching no step: drop both
    # before the stateful operator. Besides implementing that contract,
    # a null in an int64 ts column would force the Arrow->pandas
    # conversion to float64 and quantize epoch-nanos for the whole batch
    reduced = (events
               .select(F.col(group_col), F.col(ts_col).alias("__ts"),
                       mask.alias("__mask"))
               .where(F.col("__ts").isNotNull() & (F.col("__mask") != 0)))

    def update(
        key: Tuple,
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        done, anchor, first = state.get if state.exists else (0, None, None)
        # ONE fold over all of the micro-batch's Arrow chunks: folding
        # chunk by chunk would make a chunk boundary act like a batch
        # boundary. Column dtypes carry through — int64 nanos stay exact
        chunks = list(batches)
        if not chunks:  # a timeout call carries no rows
            return
        ts = np.concatenate([c["__ts"].to_numpy() for c in chunks])
        mk = np.concatenate([c["__mask"].to_numpy(np.int64) for c in chunks])
        was = done
        done, anchor, first = fold_steps(ts, mk, done, anchor, first,
                                         row_found, max_duration)
        if done > was:
            state.update((done, anchor, first))
            yield pd.DataFrame(
                {"group_id": [key[0]], "steps_completed": [done],
                 "anchor_ts": [anchor]}
            )

    return reduced.groupBy(group_col).applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )
