"""Property-based differential testing: random queries over random small
DataFrames (with nulls), Spark engine vs an INDEPENDENT Pandas mirror of the
reference's semantics (written straight from the reference behavior:
filter rows → group → target compare → relation → counts; strict-> sequences).

This goes beyond the reference's hand-computed tier-1 suite — the generator
reaches null/includeZero/relation/sequence interactions no hand-written case
covers. Kept deliberately bounded (small data, limited ops) so the whole
suite stays in CI time budgets.
"""

from __future__ import annotations

import math

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from funnel_rocket_spark.engine import QueryEngine

# ---------------------------------------------------------------- data gen

USERS = ["u1", "u2", "u3", "u4", "u5"]
CATS = ["red", "green", "blue", None]

row_st = st.fixed_dictionaries({
    "id": st.sampled_from(USERS),
    "timestamp": st.integers(min_value=0, max_value=20),
    "price": st.one_of(st.none(), st.integers(min_value=-5, max_value=30)),
    "cat": st.sampled_from(CATS),
})

data_st = st.lists(row_st, min_size=1, max_size=40)

num_op_st = st.sampled_from(["==", "!=", ">", ">=", "<", "<="])
str_op_st = st.sampled_from(["==", "!=", "contains", "not contains"])


@st.composite
def filter_st(draw):
    if draw(st.booleans()):
        return {"column": "price", "op": draw(num_op_st),
                "value": draw(st.integers(min_value=-2, max_value=25))}
    return {"column": "cat", "op": draw(str_op_st),
            "value": draw(st.sampled_from(["red", "green", "blue", "e"]))}


@st.composite
def condition_st(draw):
    cond: dict = {"filter": draw(filter_st())}
    kind = draw(st.integers(min_value=0, max_value=2))
    if kind == 1:
        cond["target"] = {"type": "count", "op": draw(num_op_st),
                          "value": draw(st.integers(min_value=0, max_value=4))}
        # keep includeZero combinations legal: let the validator infer
        if cond["target"]["op"] == "<" and cond["target"]["value"] == 0:
            cond["target"]["value"] = 1
    elif kind == 2:
        cond["target"] = {"type": "sum", "column": "price",
                          "op": draw(num_op_st),
                          "value": draw(st.integers(min_value=-5, max_value=40))}
    return cond


@st.composite
def query_st(draw):
    n = draw(st.integers(min_value=1, max_value=3))
    conds = [draw(condition_st()) for _ in range(n)]
    q: dict = {"query": {"conditions": conds}}
    if n > 1 and draw(st.booleans()):
        ops = [draw(st.sampled_from(["and", "or"])) for _ in range(n - 1)]
        rel = "$0"
        for i, op in enumerate(ops):
            rel += f" {op} ${i + 1}"
        q["query"]["relation"] = rel
    return q


# ------------------------------------------------- independent Pandas mirror

def _pd_filter(pdf: pd.DataFrame, f: dict) -> pd.Series:
    col, op, v = pdf[f["column"]], f["op"], f["value"]
    if op == "contains":
        return col.str.contains(v, regex=False, na=False)
    if op == "not contains":
        # reference: ~contains(na=False) → nulls MATCH (query_engine.py:205-207)
        return ~col.str.contains(v, regex=False, na=False)
    if op == "==":
        return col == v
    if op == "!=":
        return (col != v) | col.isna() if col.dtype == object else col != v
    return {"<": col < v, "<=": col <= v, ">": col > v, ">=": col >= v}[op]


def _pd_condition(pdf: pd.DataFrame, cond: dict) -> set:
    mask = _pd_filter(pdf, cond["filter"])
    matched = pdf[mask]
    target = cond.get("target", {"type": "count", "op": ">=", "value": 1})
    groups = matched.groupby("id")
    out = set()
    if target["type"] == "count":
        counts = groups.size()
        for g, c in counts.items():
            if _cmp(c, target["op"], target["value"]):
                out.add(g)
        include_zero = cond.get("includeZero",
                                target["op"] == "==" and target["value"] == 0)
        if include_zero:
            out |= set(pdf["id"].unique()) - set(counts.index)
    else:
        sums = groups["price"].sum()
        for g, s in sums.items():
            if _cmp(s, target["op"], target["value"]):
                out.add(g)
    return out


def _cmp(a, op, b) -> bool:
    return {"==": a == b, "!=": a != b, ">": a > b,
            ">=": a >= b, "<": a < b, "<=": a <= b}[op]


def _pd_expected(pdf: pd.DataFrame, q: dict) -> tuple[int, int]:
    conds = q["query"]["conditions"]
    sets = [_pd_condition(pdf, c) for c in conds]
    rel = q["query"].get("relation")
    if rel is None:
        matched = set.intersection(*sets)
    else:
        # left-to-right with AND binding tighter than OR (Python/SQL parity)
        tokens = rel.split()
        # groups: a or b and c == a or (b and c)
        or_terms: list[set] = []
        cur = sets[0]
        idx = 1
        for i in range(1, len(tokens), 2):
            op = tokens[i]
            nxt = sets[idx]
            idx += 1
            if op == "and":
                cur = cur & nxt
            else:
                or_terms.append(cur)
                cur = nxt
        or_terms.append(cur)
        matched = set.union(*or_terms)
    rows = int(pdf["id"].isin(list(matched)).sum())
    return len(matched), rows


# ----------------------------------------------------------------- the test

@pytest.fixture(scope="module")
def engine():
    return QueryEngine("id", "timestamp")


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=data_st, query=query_st())
def test_engine_matches_pandas_mirror(spark, engine, rows, query):
    pdf = pd.DataFrame(rows)
    pdf["price"] = pdf["price"].astype("float64")  # None -> NaN like parquet
    sdf = spark.createDataFrame(
        pdf, schema="id string, timestamp bigint, price double, cat string")
    result = engine.run(sdf, query)
    exp_groups, exp_rows = _pd_expected(pdf, query)
    assert result["query"]["matchingGroups"] == exp_groups, (rows, query)
    assert result["query"]["matchingGroupRows"] == exp_rows, (rows, query)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=data_st,
       steps=st.lists(st.sampled_from(["red", "green", "blue"]),
                      min_size=1, max_size=3))
def test_sequence_matches_reference_loop(spark, engine, rows, steps):
    """Sequence semantics vs a direct transcription of the reference's
    iterative min-ts loop (query_engine.py:221-249)."""
    pdf = pd.DataFrame(rows)
    pdf["price"] = pdf["price"].astype("float64")
    sdf = spark.createDataFrame(
        pdf, schema="id string, timestamp bigint, price double, cat string")
    q = {"query": {"conditions": [
        {"sequence": [{"filter": ["cat", "==", s]} for s in steps]}]}}
    result = engine.run(sdf, q)

    # reference loop: per group, anchor = min ts of step match with ts > prev
    survivors = set()
    for g, gdf in pdf.groupby("id"):
        anchor = -math.inf
        ok = True
        for s in steps:
            matches = gdf[(gdf["cat"] == s) & (gdf["timestamp"] > anchor)]
            if matches.empty:
                ok = False
                break
            anchor = matches["timestamp"].min()
        if ok:
            survivors.add(g)
    assert result["query"]["matchingGroups"] == len(survivors), (rows, steps)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=data_st,
       steps=st.lists(
           st.tuples(st.sampled_from(["red", "green", "blue"]),
                     st.booleans()),
           min_size=1, max_size=3),
       max_dur=st.one_of(st.none(), st.integers(min_value=0, max_value=15)))
def test_sequence_extensions_match_reference_loop(spark, engine, rows,
                                                  steps, max_dur):
    """The engine's own extensions (maxDuration, rowFound:false) fuzzed vs
    a direct transcription of the anchor semantics: step i ≥ 1 must land
    within max_dur of the FIRST anchor; a rowFound:false step passes iff
    NO row matches after the previous anchor (anchor carries over)."""
    pdf = pd.DataFrame(rows)
    pdf["price"] = pdf["price"].astype("float64")
    sdf = spark.createDataFrame(
        pdf, schema="id string, timestamp bigint, price double, cat string")
    seq = []
    for cat, found in steps:
        step: dict = {"filter": ["cat", "==", cat]}
        if not found:
            step["rowFound"] = False
        seq.append(step)
    cond: dict = {"sequence": seq}
    if max_dur is not None:
        cond["maxDuration"] = max_dur
    result = engine.run(sdf, {"query": {"conditions": [cond]}})

    survivors = set()
    for g, gdf in pdf.groupby("id"):
        anchor = -math.inf
        first = None
        ok = True
        for i, (cat, found) in enumerate(steps):
            m = gdf[(gdf["cat"] == cat) & (gdf["timestamp"] > anchor)]
            if max_dur is not None and first is not None:
                m = m[m["timestamp"] <= first + max_dur]
            if found:
                if m.empty:
                    ok = False
                    break
                anchor = m["timestamp"].min()
            else:
                if not m.empty:
                    ok = False
                    break
                # anchor unchanged
            # the duration window anchors at the first FOUND step: a
            # rowFound:false first step carries the -inf sentinel, and
            # anchoring there would bound later steps by ts <= -inf + d
            # (nothing could ever match — the compiler bug this loop
            # once transcribed)
            if first is None and found:
                first = anchor
        if ok:
            survivors.add(g)
    assert result["query"]["matchingGroups"] == len(survivors), (
        rows, steps, max_dur)


# ------------------------------------------------ behavior ops differential

ev_row_st = st.fixed_dictionaries({
    "user_id": st.integers(min_value=1, max_value=6),
    "ts": st.integers(min_value=0, max_value=30),
    "event_type": st.sampled_from(["a", "b", "c"]),
    "event_id": st.integers(min_value=0, max_value=10**6),
})
ev_data_st = st.lists(ev_row_st, min_size=1, max_size=40, unique_by=(
    lambda r: (r["user_id"], r["ts"], r["event_id"])))


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=ev_data_st, period=st.integers(min_value=1, max_value=7))
def test_retention_cohorts_matches_pandas(spark, data, period):
    from funnel_rocket_spark.operators import behavior

    df = spark.createDataFrame(
        pd.DataFrame(data), "user_id long, ts long, event_type string, "
                            "event_id long")
    got = {(r["cohort"], r["period_index"]): r["n_active"]
           for r in behavior.retention_cohorts(
               df.select("user_id", "ts"), "user_id", "ts",
               period=period).collect()}

    pdf = pd.DataFrame(data)
    pdf["p"] = pdf["ts"] - pdf["ts"] % period
    act = pdf[["user_id", "p"]].drop_duplicates()
    cohort = act.groupby("user_id")["p"].min()
    want: dict = {}
    for _, r in act.iterrows():
        c = cohort[r["user_id"]]
        key = (c, (r["p"] - c) // period)
        want[key] = want.get(key, 0) + 1
    assert got == want


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=ev_data_st, length=st.integers(min_value=1, max_value=3))
def test_top_paths_matches_pandas(spark, data, length):
    from funnel_rocket_spark.operators import behavior

    df = spark.createDataFrame(
        pd.DataFrame(data), "user_id long, ts long, event_type string, "
                            "event_id long")
    got = {r["path"]: (r["n_paths"], r["n_groups"])
           for r in behavior.top_paths(
               df, "user_id", "ts", "event_type",
               order_cols=["ts", "event_id"], length=length,
               top=1000).collect()}

    pdf = pd.DataFrame(data).sort_values(["user_id", "ts", "event_id"])
    want: dict = {}
    for uid, g in pdf.groupby("user_id"):
        types = list(g["event_type"])
        for i in range(len(types) - length + 1):
            p = " > ".join(types[i:i + length])
            n, users = want.get(p, (0, set()))
            users.add(uid)
            want[p] = (n + 1, users)
    want = {p: (n, len(users)) for p, (n, users) in want.items()}
    assert got == want


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=data_st, query=query_st())
def test_universe_strategies_agree_on_random_queries(spark, engine, rows,
                                                     query):
    """For ARBITRARY generated condition sets (random filters, targets,
    includeZero, relations), the windowed row universe must be row-for-row
    identical to the semi-join universe."""
    pdf = pd.DataFrame(rows)
    pdf["price"] = pdf["price"].astype("float64")
    sdf = spark.createDataFrame(
        pdf, schema="id string, timestamp bigint, price double, cat string")
    plan = engine.plan(sdf, query)
    join_df = plan.rows_of_matching_groups(strategy="join")
    win_df = plan.rows_of_matching_groups(strategy="window")
    cols = sorted(join_df.columns)
    assert cols == sorted(win_df.columns)

    def norm(df):  # None-safe multiset compare
        return sorted((repr(t) for t in map(tuple, df.select(*cols).collect())))

    assert norm(join_df) == norm(win_df), query
