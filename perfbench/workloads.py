"""Workload definitions: inputs, query lists and their DuckDB oracles.

``funnel`` sends engine queries through the HTTP API; every query carries
an oracle that computes the full expected result JSON in DuckDB over the
same parquet. ``operators`` runs extension-catalog callables and checks
them against ``benchqueries.oracle_sql()``.
"""

from __future__ import annotations

import datagen

DAY_US = 86_400 * 1_000_000

# --------------------------------------------------------------------------- #
# funnel: sequences and funnels over heavy-tailed groups with one whale

FUNNEL_ROWS = 100_000
FUNNEL_USERS = 5_000
FUNNEL_WHALE_SHARE = 0.10
FUNNEL_FILES = 4


def _f(event_type: str) -> dict:
    return {"filter": ["event_type", "==", event_type]}


SIGNUP, CLICK, PURCHASE = _f("signup"), _f("click"), _f("purchase")
RARE_ERROR = {"filters": [["event_type", "==", "error"], ["value", ">", 190.0]],
              "rowFound": False}

# The step SQL of a query defines CTEs s0..sK over the view ``ev`` (all
# events): one row per user that completed steps 0..k in order, earliest
# completion ``t``. The same anchoring rules as the catalog's fr_seq_* oracles:
# every step strictly after the previous step's earliest match, maxDuration
# bounding every later step to ``t0`` (the first step's earliest match) plus
# the duration, an absent step forbidding the row anywhere after the
# previous step.
_STEP = """s{i} AS (SELECT e.user_id, min(e.ts) t, min(s{p}.t0) t0 FROM ev e
  JOIN s{p} ON e.user_id = s{p}.user_id AND e.ts > s{p}.t{extra}
  WHERE e.event_type = '{et}' GROUP BY 1)"""
_FIRST = ("s0 AS (SELECT user_id, min(ts) t, min(ts) t0 FROM ev "
          "WHERE event_type = '{et}' GROUP BY 1)")


def _chain(types: list[str], max_duration_us: int = 0) -> list[str]:
    ctes = [_FIRST.format(et=types[0])]
    for i, et in enumerate(types[1:], 1):
        extra = (f" AND e.ts <= s{i - 1}.t0 + {max_duration_us}"
                 if max_duration_us else "")
        ctes.append(_STEP.format(i=i, p=i - 1, extra=extra, et=et))
    return ctes


_ABSENCE = [
    _FIRST.format(et="signup"),
    "s1 AS (SELECT s0.user_id, s0.t, s0.t0 FROM s0 WHERE NOT EXISTS (SELECT 1 "
    "FROM ev e WHERE e.user_id = s0.user_id AND e.event_type = 'error' AND "
    "e.value > 190.0 AND e.ts > s0.t))",
    _STEP.format(i=2, p=1, extra="", et="purchase"),
]

COUNT_PER_TYPE = {"column": "event_type", "type": "countPerValue"}
SUM_PER_TYPE = {"column": "event_type", "type": "sumPerValue",
                "otherColumn": "value"}

FUNNEL_QUERIES: dict[str, dict] = {
    "seq3_max_duration": {"query": {"conditions": [
        {"sequence": [SIGNUP, CLICK, PURCHASE], "maxDuration": 7 * DAY_US}]}},
    "seq_absence": {"query": {"conditions": [
        {"sequence": [SIGNUP, RARE_ERROR, PURCHASE]}]}},
    "funnel2_aggs": {"funnel": {
        "sequence": [SIGNUP, PURCHASE],
        "stepAggregations": [COUNT_PER_TYPE],
        "endAggregations": [SUM_PER_TYPE]}},
}

_STEPS: dict[str, list[str]] = {
    "seq3_max_duration": _chain(["signup", "click", "purchase"], 7 * DAY_US),
    "seq_absence": _ABSENCE,
    "funnel2_aggs": _chain(["signup", "purchase"]),
}


def funnel_tables(seed: int) -> dict:
    return {"events": datagen.events(seed, FUNNEL_ROWS, FUNNEL_USERS,
                                     FUNNEL_WHALE_SHARE)}


def _agg_value(con, agg: dict, users_sql: str):
    rows_sql = f"SELECT * FROM events WHERE user_id IN ({users_sql})"
    col = agg["column"]
    if agg["type"] == "countPerValue":
        expr = "count(*)"
    elif agg["type"] == "sumPerValue":
        expr = f"sum({agg['otherColumn']})"
    else:
        raise ValueError(f"no oracle for aggregation {agg['type']}")
    top = int(agg.get("top", 10))
    rows = con.sql(f"SELECT CAST({col} AS VARCHAR), {expr} FROM ({rows_sql}) "
                   f"GROUP BY 1 ORDER BY 2 DESC, 1 ASC LIMIT {top}").fetchall()
    return {"column": col, "type": agg["type"], "value": dict(rows)}


def _counts(con, users_sql: str) -> tuple[int, int]:
    return con.sql(f"SELECT count(DISTINCT user_id), count(*) FROM events "
                   f"WHERE user_id IN ({users_sql})").fetchone()


def funnel_expected(con, name: str) -> dict:
    """Expected result JSON of one funnel-workload query, from DuckDB over
    the view ``events``. A query is either a sequence condition alone or a
    funnel over all groups."""
    query = FUNNEL_QUERIES[name]
    n_steps = len(_STEPS[name])
    chain = f"WITH ev AS (SELECT * FROM events), {', '.join(_STEPS[name])} "
    fn = query.get("funnel")
    matched = (f"{chain} SELECT user_id FROM s{n_steps - 1}" if fn is None
               else "SELECT DISTINCT user_id FROM events")
    groups, rows = _counts(con, matched)
    out = {"query": {"matchingGroups": groups, "matchingGroupRows": rows,
                     "aggregations": None},
           "funnel": None}
    if fn is None:
        return out
    step_aggs = fn.get("stepAggregations")
    sequence = []
    for i in range(n_steps):
        users = f"{chain} SELECT user_id FROM s{i}"
        g, r = _counts(con, users)
        sequence.append({
            "matchingGroups": g, "matchingGroupRows": r,
            "aggregations": [_agg_value(con, a, users) for a in step_aggs]
            if step_aggs else None})
    end = fn.get("endAggregations")
    last = f"{chain} SELECT user_id FROM s{n_steps - 1}"
    out["funnel"] = {"sequence": sequence, "endAggregations": [
        _agg_value(con, a, last) for a in end] if end else None}
    return out


# --------------------------------------------------------------------------- #
# operators: extension-catalog callables over generated tables

OPS_EVENTS_ROWS = 20_000
OPS_EVENTS_USERS = 1_000
OPS_DOCS = 500
OPS_VECS = 500
OPS_ORDERS = 2_000

# operator family -> catalog queries.  Family is the operators/ module the
# query exercises; names are benchqueries.queries() keys. An odd count keeps
# the median request inside one query's samples instead of on the boundary
# between two, where it would flip between their latencies run to run.
OPERATOR_FAMILIES: dict[str, list[str]] = {
    "olap": ["olap_rollup"],
    "dedup": ["dedup_exact"],
    "similarity": ["ann_cosine_topk", "ann_ivf_topk"],
    "text": ["text_tokens"],
    "multimodal": ["multimodal_features"],
    "sampling": ["sample_stratified"],
    "temporal": ["sessionize_events"],
    "behavior": ["behavior_top_paths"],
}
OPERATOR_QUERIES = [q for qs in OPERATOR_FAMILIES.values() for q in qs]
FAMILY_OF = {q: f for f, qs in OPERATOR_FAMILIES.items() for q in qs}


def operators_tables(seed: int) -> dict:
    return {
        "events": datagen.events(seed, OPS_EVENTS_ROWS, OPS_EVENTS_USERS,
                                 ts_type="timestamp"),
        "documents": datagen.documents(seed, OPS_DOCS),
        "embeddings": datagen.embeddings(seed, OPS_VECS),
        "lineitem": datagen.lineitem(seed, OPS_ORDERS),
    }
