"""Unit tests for the benchmark's own code. No Spark: run with

    python -m pytest perfbench/tests -q
"""

import json
import math
import os
import re

import duckdb
import pandas as pd
import pyarrow as pa
import pytest

import check
import datagen
import run
import spans
import workloads

BENCHMARK_JSON = os.path.join(os.path.dirname(run.BENCH_DIR),
                              "BENCHMARK.json")


# --------------------------------------------------------------------------- #
# percentiles and the sample-count rule


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert check.percentile(xs, 50) == 3.0
    assert check.percentile(xs, 90) == 5.0
    assert check.percentile(xs, 20) == 1.0
    assert check.percentile([7.0], 50) == 7.0
    with pytest.raises(ValueError):
        check.percentile([], 50)
    with pytest.raises(ValueError):
        check.percentile(xs, 0)


def test_samples_beyond_percentile():
    assert check.samples_beyond(100, 90) == 10
    assert check.samples_beyond(99, 90) == 9
    assert check.samples_beyond(10, 50) == 5
    assert check.samples_beyond(0, 90) == 0


def test_tail_percentile_needs_ten_samples_beyond():
    assert check.tail_percentile([1.0] * 30) is None
    assert check.tail_percentile([1.0] * 40) == {"q": 75, "value": 1.0}
    xs = [float(i) for i in range(1, 101)]
    assert check.tail_percentile(xs) == {"q": 90, "value": 90.0}
    assert check.tail_percentile(xs[:99])["q"] == 75
    assert check.tail_percentile([float(i) for i in range(1000)])["q"] == 99


# --------------------------------------------------------------------------- #
# failure accounting


def test_tally_counts_and_names_failures():
    t = check.Tally()
    assert t.record("a", None)
    assert not t.record("b", "HTTP 500: boom")
    assert not t.record("b", "wrong")
    t.record("c", None)
    assert (t.attempted, t.n_failed, t.n_correct) == (4, 2, 2)
    assert t.failed_share == 0.5
    s = t.summary()
    assert s["failing_queries"] == {"b": "HTTP 500: boom"}
    assert check.Tally().failed_share == 0.0


# --------------------------------------------------------------------------- #
# oracle comparators


def test_frame_mismatch_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2, 3], "y": [0.1, 0.2, 0.3]})
    b = pd.DataFrame({"y": [0.3, 0.1, 0.2 + 1e-12], "x": [3, 1, 2]})
    assert check.frame_mismatch(a, b) is None


def test_frame_mismatch_reports_differences():
    a = pd.DataFrame({"x": [1, 2], "y": [0.5, 1.0]})
    assert "row count" in check.frame_mismatch(a, a.iloc[:1])
    assert "columns" in check.frame_mismatch(a, a.rename(columns={"y": "z"}))
    b = a.assign(y=[0.5, 1.1])
    assert "col y" in check.frame_mismatch(a, b)
    nan = pd.DataFrame({"x": [1], "y": [math.nan]})
    assert check.frame_mismatch(nan, nan.copy()) is None


def _result(groups, rows, steps=None, step_aggs=None, end=None):
    out = {"query": {"matchingGroups": groups, "matchingGroupRows": rows,
                     "aggregations": None}, "funnel": None}
    if steps is not None:
        out["funnel"] = {"sequence": [
            {"matchingGroups": g, "matchingGroupRows": r,
             "aggregations": step_aggs} for g, r in steps],
            "endAggregations": end}
    return out


def test_result_mismatch_accepts_equal_results():
    agg = [{"column": "c", "type": "countPerValue", "value": {"a": 2}}]
    want = _result(10, 100, [(5, 50), (2, 20)], agg, agg)
    got = json.loads(json.dumps(want))
    got["funnel"]["sequence"][0]["aggregations"][0]["top"] = 10  # extra keys
    assert check.result_mismatch(got, want) is None


def test_result_mismatch_names_the_difference():
    agg = [{"column": "c", "type": "sumPerValue", "value": {"a": 2.5}}]
    want = _result(10, 100, [(5, 50), (2, 20)], None, agg)
    assert "matchingGroups" in check.result_mismatch(_result(9, 100), want)
    assert "funnel steps" in check.result_mismatch(_result(10, 100), want)
    got = _result(10, 100, [(5, 50), (3, 20)], None, agg)
    assert "step 1 matchingGroups" in check.result_mismatch(got, want)
    bad = [{"column": "c", "type": "sumPerValue", "value": {"a": 2.6}}]
    got = _result(10, 100, [(5, 50), (2, 20)], None, bad)
    assert "funnel end" in check.result_mismatch(got, want)
    keys = [{"column": "c", "type": "sumPerValue", "value": {"b": 2.5}}]
    got = _result(10, 100, [(5, 50), (2, 20)], None, keys)
    assert "keys" in check.result_mismatch(got, want)


# --------------------------------------------------------------------------- #
# the funnel oracle against a plain-Python reading of the sequence rules


def _python_sequence(rows, steps, max_duration=None):
    """Users completing ``steps`` (list of (predicate, row_found)) in order:
    each found step is the earliest match strictly after the previous
    anchor (and within max_duration of the first anchor); an absent step
    passes when no row matches after the previous anchor."""
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    done = set()
    for user, evs in by_user.items():
        prev, first = None, None
        ok = True
        for pred, found in steps:
            cands = [e["ts"] for e in evs if pred(e)
                     and (prev is None or e["ts"] > prev)
                     and (first is None or max_duration is None
                          or e["ts"] <= first + max_duration)]
            if found:
                if not cands:
                    ok = False
                    break
                prev = min(cands)
                first = prev if first is None else first
            elif cands:
                ok = False
                break
        if ok:
            done.add(user)
    return done


@pytest.fixture(scope="module")
def small_events():
    table = datagen.events(3, 3_000, 150, whale_share=0.1)
    con = duckdb.connect()
    con.register("events", table)
    return con, table.to_pylist()


def _is(et):
    return lambda e: e["event_type"] == et


def test_sequence_oracles_match_python_reference(small_events):
    con, rows = small_events
    day = workloads.DAY_US
    cases = {
        "seq3_max_duration": ([(_is("signup"), True), (_is("click"), True),
                               (_is("purchase"), True)], 7 * day),
        "seq_absence": ([(_is("signup"), True),
                         (lambda e: e["event_type"] == "error"
                          and e["value"] > 190.0, False),
                         (_is("purchase"), True)], None),
    }
    for name, (steps, dur) in cases.items():
        users = _python_sequence(rows, steps, dur)
        want = workloads.funnel_expected(con, name)["query"]
        assert want["matchingGroups"] == len(users), name
        assert want["matchingGroupRows"] == sum(
            1 for r in rows if r["user_id"] in users), name


def test_funnel_oracle_matches_python_reference(small_events):
    con, rows = small_events
    got = workloads.funnel_expected(con, "funnel2_aggs")
    step0 = _python_sequence(rows, [(_is("signup"), True)])
    step1 = _python_sequence(rows, [(_is("signup"), True),
                                    (_is("purchase"), True)])
    seq = got["funnel"]["sequence"]
    assert [s["matchingGroups"] for s in seq] == [len(step0), len(step1)]
    end = got["funnel"]["endAggregations"][0]["value"]
    want = {}
    for r in rows:
        if r["user_id"] in step1:
            want[r["event_type"]] = want.get(r["event_type"], 0) + r["value"]
    assert set(end) == set(want)
    assert all(math.isclose(end[k], want[k]) for k in want)
    counts = seq[0]["aggregations"][0]["value"]
    assert sum(counts.values()) == seq[0]["matchingGroupRows"]


# --------------------------------------------------------------------------- #
# inputs


def test_generator_is_seeded():
    a = workloads.operators_tables(5)
    b = workloads.operators_tables(5)
    c = workloads.operators_tables(6)
    assert datagen.digest(a) == datagen.digest(b) != datagen.digest(c)
    assert set(a) >= {"events", "documents", "embeddings", "lineitem"}


def test_funnel_events_have_one_whale():
    t = datagen.events(1, 20_000, 1_000, whale_share=0.1)
    counts = pd.Series(t.column("user_id").to_pylist()).value_counts()
    assert counts.iloc[0] == 2_000
    assert counts.iloc[1] < 2_000 / 2
    assert t.column("ts").type == pa.int64()
    ts = t.column("ts").to_pylist()
    assert ts == sorted(ts)


# --------------------------------------------------------------------------- #
# spans


def test_union_length_and_self_time():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4.0
    t = spans.Tracer()
    with t.span("parent") as p:
        with t.span("child"):
            pass
    p.start, p.end = 0.0, 10.0
    child = t.spans[1]
    child.start, child.end = 2.0, 5.0
    assert child.parent == p.sid
    assert spans.self_time(p, t.spans) == pytest.approx(7.0)


def test_wrap_and_restore():
    class Box:
        def f(self, x):
            return x + 1

    t = spans.Tracer()
    t.wrap(Box, "f", "box.f")
    assert t.installed and Box().f(1) == 2
    assert [s.name for s in t.spans] == ["box.f"]
    t.restore()
    assert not t.installed and Box().f(1) == 2 and len(t.spans) == 1


# --------------------------------------------------------------------------- #
# the metric schema BENCHMARK.json declares


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec():
    with open(BENCHMARK_JSON) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_program(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.E2E_UNITS
    assert layer == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == {"funnel", "operators"}


def test_benchmark_json_limits(spec):
    names = [m["name"] for k in ("end_to_end", "per_layer")
             for m in spec[k]] + [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    assert spec["command"][:2] == ["python3", "perfbench/run.py"]
    assert 1 <= spec["run_seconds"] <= 60
