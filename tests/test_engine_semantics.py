"""Engine-semantics tests ported from the reference's tier-1 suite
(``/root/reference/tests/test_query_engine.py``) — same synthetic data shapes,
same expected numbers, engine swapped for the Spark one.

Data model: 4 users a/b/c/d with 2^(i+2) rows each (4/8/16/32), cycling
category/type/keyword values, sequential timestamps and prices.
"""

import pandas as pd
import pytest

from funnel_rocket_spark.engine import QueryEngine

CATEGORIES = ["fishing", "running", "climbing", "snorkeling"]
TYPES = ["view", "click", "purchase", "a2c"]
KEYWORDS = ["cat|dog", "mouse|cat|dog", "cat", "dog|mouse|cat"]
BEGIN_TS = 1610555782
BEGIN_PRICE = 100
ALL_USERS = ["a", "b", "c", "d"]


def make_data() -> pd.DataFrame:
    frames = []
    for index, user in enumerate(ALL_USERS):
        index += 2
        n = 2**index
        frames.append(
            pd.DataFrame(
                {
                    "id": [user] * n,
                    "timestamp": [BEGIN_TS + index + i for i in range(n)],
                    "category": CATEGORIES * (n // 4),
                    "type": TYPES * (n // 4),
                    "price": [BEGIN_PRICE + index + i for i in range(n)],
                    "keywords": [f"{w}_{user}" for w in KEYWORDS] * (n // 4),
                }
            )
        )
    return pd.concat(frames, axis=0)


@pytest.fixture(scope="module")
def sdf(spark):
    df = spark.createDataFrame(make_data())
    df.persist()
    yield df
    df.unpersist()


def run(spark_df, query_part=None, funnel_part=None, timeframe=None):
    full = {}
    if query_part:
        full["query"] = query_part
    if funnel_part:
        full["funnel"] = funnel_part
    if timeframe:
        full["timeframe"] = timeframe
    engine = QueryEngine("id", "timestamp")
    return engine.run(spark_df, full)


def test_empty_query_brings_all_users(sdf):
    res = run(sdf, {"conditions": []})
    assert res["query"]["matchingGroups"] == 4
    assert res["query"]["matchingGroupRows"] == 4 + 8 + 16 + 32


def test_simple_filter(sdf):
    q = {
        "relation": "and",
        "conditions": [
            {
                "filter": {"column": "price", "op": ">", "value": 133},
                "target": {"type": "count", "op": ">", "value": 2},
            }
        ],
    }
    res = run(sdf, q)
    # matches only user 'd' (2^5 rows)
    assert res["query"]["matchingGroups"] == 1
    assert res["query"]["matchingGroupRows"] == 32


def test_logical_or(sdf):
    q = {
        "relation": "or",
        "conditions": [
            {
                "filter": {"column": "price", "op": "<=", "value": 104},
                "target": {"type": "count", "op": ">", "value": 2},
            },
            {
                "filter": {"column": "price", "op": ">", "value": 133},
                "target": {"type": "count", "op": ">", "value": 2},
            },
        ],
    }
    res = run(sdf, q)
    assert res["query"]["matchingGroups"] == 2  # users a and d
    assert res["query"]["matchingGroupRows"] == 4 + 32


def test_sum_target(spark):
    rows = [{"f": i, "id": "a", "timestamp": i} for i in range(1, 1001)]
    rows.append({"f": 10, "id": "b", "timestamp": 2})
    df = spark.createDataFrame(pd.DataFrame(rows))
    q = {
        "conditions": [
            {
                "filter": {"column": "f", "op": ">", "value": 0},
                "target": {
                    "type": "sum",
                    "op": "==",
                    "column": "f",
                    "value": 1000 * 1001 // 2,
                },
            }
        ]
    }
    res = run(df, q)
    assert res["query"]["matchingGroupRows"] == 1000


def test_boolean_operators_with_nulls(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            [
                {"bool_field": True, "id": "a", "timestamp": 1},
                {"bool_field": False, "id": "b", "timestamp": 2},
                {"bool_field": None, "id": "b", "timestamp": 3},
            ]
        ).astype({"bool_field": "boolean"})
    )
    # (op, value, expected matchingGroupRows, target_op) — NULL counts as a
    # match for '!=' (Pandas parity; reference test_query_engine.py:102-144)
    cases = [
        ("==", True, 1, "=="),
        ("!=", True, 2, ">"),
        ("==", False, 2, "=="),
        ("!=", False, 3, "=="),
    ]
    for op, value, expectation, target_op in cases:
        q = {
            "conditions": [
                {
                    "filter": {"column": "bool_field", "op": op, "value": value},
                    "target": {"type": "count", "op": target_op, "value": 1},
                }
            ]
        }
        res = run(df, q)
        assert res["query"]["matchingGroupRows"] == expectation, (op, value)


def test_numeric_operators(sdf):
    # timestamp <= BEGIN_TS+5 yields 4 rows for a, 3 for b, 2 for c, 1 for d
    cases = [("==", 2, 1), ("<", 3, 2), (">", 2, 2), ("<=", 1, 1), (">=", 4, 1), ("!=", 1, 3)]
    for op, val, expectation in cases:
        q = {
            "relation": "and",
            "conditions": [
                {
                    "filter": {"column": "timestamp", "op": "<=", "value": BEGIN_TS + 5},
                    "target": {"type": "count", "op": op, "value": val},
                }
            ],
        }
        res = run(sdf, q)
        assert res["query"]["matchingGroups"] == expectation, (op, val)


def test_string_operators(sdf):
    # all with target count > 3 (reference test_string_operators)
    cases = [
        ("contains", "dog_a", 0),
        ("contains", "dog_b", 8),
        ("contains", "dog_c", 16),
        ("==", "cat_a", 0),
        ("==", "cat_c", 16),
        ("!=", "cat_a", 56),
        ("not contains", "mouse", 56),
    ]
    for op, value, expectation in cases:
        q = {
            "relation": "or",
            "conditions": [
                {
                    "filter": {"column": "keywords", "op": op, "value": value},
                    "target": {"type": "count", "op": ">", "value": 3},
                }
            ],
        }
        res = run(sdf, q)
        assert res["query"]["matchingGroupRows"] == expectation, (op, value)


def test_multi_filter(sdf):
    q = {
        "relation": "or",
        "conditions": [
            {
                "filters": [
                    {"column": "price", "op": "<=", "value": 104},
                    {"column": "category", "op": "==", "value": "running"},
                ],
                "target": {"type": "count", "op": "==", "value": 1},
            }
        ],
    }
    res = run(sdf, q)
    assert res["query"]["matchingGroups"] == 2  # users a and b
    assert res["query"]["matchingGroupRows"] == 4 + 8


def test_column_aggregations(sdf):
    res = run(sdf, {"conditions": [], "aggregations": [{"column": "category"}]})
    aggs = {a["type"]: a for a in res["query"]["aggregations"]}
    assert len(aggs) == 3
    assert aggs["count"]["value"] == 60
    assert aggs["countPerValue"]["value"] == {c: 15 for c in CATEGORIES}
    assert aggs["groupsPerValue"]["value"] == {c: 4 for c in CATEGORIES}


def test_other_column_aggregations(spark):
    rows = [
        {"id": "a", "timestamp": 1, "category": "a" if i % 2 == 0 else "b", "price": i}
        for i in range(10)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    res = run(
        df,
        {
            "conditions": [],
            "aggregations": [
                {"column": "category", "type": "sumPerValue", "otherColumn": "price"}
            ],
        },
    )
    assert res["query"]["aggregations"][0]["value"] == {"a": 20, "b": 25}
    res = run(
        df,
        {
            "conditions": [],
            "aggregations": [
                {"column": "category", "type": "meanPerValue", "otherColumn": "price"}
            ],
        },
    )
    assert res["query"]["aggregations"][0]["value"] == {"a": 4.0, "b": 5.0}


@pytest.fixture(scope="module")
def seq_df(spark):
    rows = []
    for i in range(5):
        rows += [
            {"id": "a", "timestamp": i, "category": i, "price": 1},
            {"id": "b", "timestamp": i, "category": i if i < 2 else -1, "price": 2},
            {"id": "c", "timestamp": i, "category": 4 - i, "price": 3},
        ]
    return spark.createDataFrame(pd.DataFrame(rows))


def test_sequence_condition(seq_df):
    # categories over time: a: 0 1 2 3 4 | b: 0 1 -1 -1 -1 | c: 4 3 2 1 0
    q = {
        "conditions": [
            {
                "sequence": [
                    {"filter": ["category", "==", 0]},
                    {"filter": ["category", "<=", 2]},
                    {"filter": ["category", "<", 0]},
                ]
            }
        ],
        "aggregations": [{"column": "price"}],
    }
    res = run(seq_df, q)
    assert res["query"]["matchingGroups"] == 1  # only b
    agg = res["query"]["aggregations"][-1]
    assert "2" in agg["value"]

    q = {
        "conditions": [
            {
                "sequence": [
                    {"filter": ["category", ">=", 3]},
                    {"filter": ["category", "<=", 2]},
                    {"filter": ["category", "==", 0]},
                ]
            }
        ],
        "aggregations": [{"column": "price"}],
    }
    res = run(seq_df, q)
    assert res["query"]["matchingGroups"] == 1  # only c
    assert "3" in res["query"]["aggregations"][-1]["value"]


def test_sequence_strict_inequality(spark):
    """Same-timestamp events cannot chain (reference query_engine.py:233)."""
    rows = [
        {"id": "a", "timestamp": 1, "type": "view"},
        {"id": "a", "timestamp": 1, "type": "purchase"},  # same ts: no chain
        {"id": "b", "timestamp": 1, "type": "view"},
        {"id": "b", "timestamp": 2, "type": "purchase"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    q = {
        "conditions": [
            {
                "sequence": [
                    {"filter": ["type", "==", "view"]},
                    {"filter": ["type", "==", "purchase"]},
                ]
            }
        ]
    }
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 1  # only b


def test_funnel_step_counts(sdf):
    funnel = {
        "sequence": [
            {"filter": ["type", "==", "view"]},
            {"filter": ["type", "==", "click"]},
            {"filter": ["type", "==", "purchase"]},
        ],
        "endAggregations": [{"column": "price", "type": "count"}],
    }
    res = run(sdf, query_part={"conditions": []}, funnel_part=funnel)
    steps = res["funnel"]["sequence"]
    # every user has view->click->purchase in order (types cycle per 4 rows)
    assert [s["matchingGroups"] for s in steps] == [4, 4, 4]
    assert steps[-1]["matchingGroupRows"] == 60
    assert res["funnel"]["endAggregations"][0]["value"] == 60


def test_include_zero(spark):
    rows = [
        {"id": "a", "timestamp": 1, "type": "purchase"},
        {"id": "a", "timestamp": 2, "type": "view"},
        {"id": "b", "timestamp": 1, "type": "view"},
        {"id": "c", "timestamp": 1, "type": "view"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    # users with zero purchases: target count == 0 auto-sets includeZero
    q = {"conditions": [{"filter": ["type", "==", "purchase"], "target": ["count", "==", 0]}]}
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 2
    assert res["query"]["matchingGroupRows"] == 2
    # users with < 2 purchases including zero
    q = {
        "conditions": [
            {
                "filter": ["type", "==", "purchase"],
                "target": ["count", "<", 2],
                "includeZero": True,
            }
        ]
    }
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 3
    # without includeZero, zero-purchase users do NOT match count < 2
    q = {"conditions": [{"filter": ["type", "==", "purchase"], "target": ["count", "<", 2]}]}
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 1


def test_timeframe(sdf):
    res = run(
        sdf,
        {"conditions": []},
        timeframe={"from": BEGIN_TS, "to": BEGIN_TS + 6},
    )
    # rows with BEGIN_TS <= ts < BEGIN_TS+6: a:4 (ts 2..5... offsets), computed:
    # a: ts BEGIN+2..BEGIN+5 → 4 rows; b: BEGIN+3..BEGIN+5 → 3; c: BEGIN+4..+5 → 2; d: BEGIN+5 → 1
    assert res["query"]["matchingGroupRows"] == 10
    assert res["query"]["matchingGroups"] == 4


def test_empty_dataset_all_query_shapes(spark):
    """Zero-row input must yield 0/0 for every query shape — no crashes
    from empty aggregates, windows, or semi joins."""
    from funnel_rocket_spark import QueryEngine

    df = spark.createDataFrame([], "id string, ts long, type string, "
                                   "value double")
    eng = QueryEngine("id", "ts")
    shapes = [
        {},
        {"query": {"conditions": [{"filter": ["type", "==", "x"],
                                   "target": ["count", ">=", 1]}]}},
        {"query": {"conditions": [],
                   "aggregations": [{"column": "type",
                                     "type": "countPerValue", "top": 5}]}},
        {"query": {"conditions": [{"sequence": [
            {"filter": ["type", "==", "a"]},
            {"filter": ["type", "==", "b"]}]}]}},
        {"funnel": {"sequence": [{"filter": ["type", "==", "a"]}]}},
        {"query": {"conditions": [{"filter": ["type", "==", "x"],
                                   "target": ["count", "==", 0]}]}},
    ]
    for q in shapes:
        res = eng.run(df, q)
        assert res["query"]["matchingGroups"] == 0, q
        assert res["query"]["matchingGroupRows"] == 0, q


def test_timeframe_sub_granularity_literals(spark):
    """Nanos literals finer than the column's physical granularity must keep
    exact from-inclusive / to-exclusive semantics: the pushed-down literal is
    CEILED to the column granularity, never floored (flooring would drop the
    boundary row for `to` and leak sub-bound rows for `from`)."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark import QueryEngine

    k_us = 1_700_000_000_000_000  # µs; row granularity = 1 µs
    df = spark.range(3).select(
        F.lit("u").alias("id"),
        F.timestamp_micros(F.col("id") + F.lit(k_us)).alias("ts"),
        F.lit("e").alias("type"),
    )
    eng = QueryEngine("id", "ts")
    k_ns = k_us * 1000

    # to = k·1000+1 ns: the row at exactly k µs satisfies ts < to → 1 row
    res = eng.run(df, {"timeframe": {"from": k_ns - 1000, "to": k_ns + 1},
                       "query": {"conditions": []}})
    assert res["query"]["matchingGroupRows"] == 1
    # from = k·1000+1 ns: the row at k µs is BELOW the bound → 2 rows remain
    res = eng.run(df, {"timeframe": {"from": k_ns + 1, "to": k_ns + 3000},
                       "query": {"conditions": []}})
    assert res["query"]["matchingGroupRows"] == 2
    # aligned literals unchanged: [k, k+2µs) → 2 rows
    res = eng.run(df, {"timeframe": {"from": k_ns, "to": k_ns + 2000},
                       "query": {"conditions": []}})
    assert res["query"]["matchingGroupRows"] == 2

    # DateType column, day granularity: to = midday of day D keeps day D
    day_ns = 86_400 * 10**9
    ddf = spark.range(3).select(
        F.lit("u").alias("id"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   F.col("id").cast("int")).alias("d"),
        F.lit("e").alias("type"),
    )
    deng = QueryEngine("id", "d")
    d0 = 19723 * day_ns  # 2024-01-01
    res = deng.run(ddf, {"timeframe": {"from": d0, "to": d0 + day_ns // 2},
                         "query": {"conditions": []}})
    assert res["query"]["matchingGroupRows"] == 1
    # from = midday of day D excludes day D itself
    res = deng.run(ddf, {"timeframe": {"from": d0 + day_ns // 2,
                                       "to": d0 + 3 * day_ns},
                         "query": {"conditions": []}})
    assert res["query"]["matchingGroupRows"] == 2


def test_timeframe_random_bounds_match_integer_semantics(spark):
    """Randomized differential check of the ceiling pushdown: for a
    µs-granularity timestamp column, engine counts under arbitrary nanos
    bounds must equal the pure-integer semantics
    |{ts : from <= ts_ns < to}| computed in Python."""
    import random

    from pyspark.sql import functions as F

    from funnel_rocket_spark import QueryEngine

    rng = random.Random(20240814)
    base_us = 1_700_000_000_000_000
    offsets = sorted(rng.sample(range(0, 5_000), 60))
    ts_us = [base_us + o for o in offsets]
    df = spark.createDataFrame(
        [("u", t, "e") for t in ts_us], "id string, ts_us long, type string",
    ).select("id", F.timestamp_micros(F.col("ts_us")).alias("ts"), "type")
    eng = QueryEngine("id", "ts")

    lo_ns, hi_ns = base_us * 1000 - 5000, (base_us + 5_000) * 1000 + 5000
    cases = [(rng.randint(lo_ns, hi_ns), rng.randint(lo_ns, hi_ns))
             for _ in range(15)]
    # adversarial: bounds straddling exact row positions by ±1 ns
    for t in ts_us[:5]:
        cases.append((t * 1000, t * 1000 + 1))
        cases.append((t * 1000 - 1, t * 1000 + 2001))
    for a, b in cases:
        frm, to = min(a, b), max(a, b)
        want = sum(1 for t in ts_us if frm <= t * 1000 < to)
        res = eng.run(df, {"timeframe": {"from": frm, "to": to},
                           "query": {"conditions": []}})
        got = res["query"]["matchingGroupRows"]
        assert got == want, (frm, to, got, want)


def test_sequence_max_duration_extension(spark):
    rows = [
        {"id": "a", "timestamp": 1, "type": "view"},
        {"id": "a", "timestamp": 100, "type": "purchase"},
        {"id": "b", "timestamp": 1, "type": "view"},
        {"id": "b", "timestamp": 3, "type": "purchase"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    seq = [{"filter": ["type", "==", "view"]}, {"filter": ["type", "==", "purchase"]}]
    q = {"conditions": [{"sequence": seq, "maxDuration": 5}]}
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 1  # only b within 5
    q = {"conditions": [{"sequence": seq, "maxDuration": 200}]}
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 2


def test_sequence_row_found_false_extension(spark):
    rows = [
        {"id": "a", "timestamp": 1, "type": "view"},
        {"id": "a", "timestamp": 2, "type": "error"},
        {"id": "a", "timestamp": 3, "type": "purchase"},
        {"id": "b", "timestamp": 1, "type": "view"},
        {"id": "b", "timestamp": 2, "type": "purchase"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    # view then NO error then purchase → only b
    q = {
        "conditions": [
            {
                "sequence": [
                    {"filter": ["type", "==", "view"]},
                    {"filter": ["type", "==", "error"], "rowFound": False},
                    {"filter": ["type", "==", "purchase"]},
                ]
            }
        ]
    }
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 1


def test_max_duration_with_row_found_false_first_step(spark):
    """The duration window must anchor at the first FOUND step: an
    absence-first sequence passes the -inf sentinel through step 0, and
    anchoring maxDuration THERE made ts <= sentinel + d false for every
    row — zero groups could ever match."""
    rows = [
        # a: no error, view->purchase within 5 → must match
        {"id": "a", "timestamp": 10, "type": "view"},
        {"id": "a", "timestamp": 13, "type": "purchase"},
        # b: no error, purchase too late after the view anchor
        {"id": "b", "timestamp": 10, "type": "view"},
        {"id": "b", "timestamp": 100, "type": "purchase"},
        # c: has an early error → absence step fails
        {"id": "c", "timestamp": 1, "type": "error"},
        {"id": "c", "timestamp": 10, "type": "view"},
        {"id": "c", "timestamp": 13, "type": "purchase"},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows))
    q = {"conditions": [{"sequence": [
        {"filter": ["type", "==", "error"], "rowFound": False},
        {"filter": ["type", "==", "view"]},
        {"filter": ["type", "==", "purchase"]},
    ], "maxDuration": 5}]}
    res = run(df, q)
    assert res["query"]["matchingGroups"] == 1


def test_approx_groups_per_value(sdf):
    """approx=true (HLL) stays within tolerance of exact on small data."""
    res = run(sdf, {"conditions": [], "aggregations": [
        {"column": "category", "type": "groupsPerValue", "approx": True}]})
    approx = res["query"]["aggregations"][0]["value"]
    assert set(approx) == set(CATEGORIES)
    for v in approx.values():
        assert abs(v - 4) <= 1  # rsd default 5%; tiny data is near-exact


def test_matching_group_ids_export(spark, sdf, tmp_path):
    from funnel_rocket_spark.engine import QueryEngine

    plan = QueryEngine("id", "timestamp").plan(
        sdf, {"query": {"conditions": [
            {"filter": {"column": "price", "op": ">", "value": 133}}]}})
    out = str(tmp_path / "audience")
    plan.matching_group_ids().write.parquet(out)
    back = spark.read.parquet(out)
    assert [r["id"] for r in back.collect()] == ["d"]


def test_kitchen_sink_query(spark):
    """Maximal query in the spirit of the reference's
    tests/utils/base_query_example.json: every feature at once — timeframe,
    named conditions, shorthand+verbose forms, includeZero, sum targets,
    multi-filters, sequence with maxDuration + rowFound:false, named
    relation with ||, default + named aggregations, funnel with
    maxDuration + stepAggregations + endAggregations."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark import benchqueries as bq
    from funnel_rocket_spark.engine import QueryEngine

    ev = bq.load_table(spark, "/root/testdata/sf0.001", "events")
    # epoch-nanos bounds regardless of the physical ts type (int64 nanos or
    # timestamp[us]); query time values are always epoch-nanos
    lo, hi = (
        bq.ts_ns(ev)
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()[0]
    )
    ts_lo, ts_hi = int(lo), int(hi)
    q = {
        "timeframe": {"from": ts_lo, "to": ts_hi},
        "query": {
            "relation": "($1 and $2) || $seq || (($did_signup))",
            "conditions": [
                {"name": "did_signup",
                 "filter": ["event_type", "==", "signup"],
                 "target": ["count", ">=", 0], "includeZero": True},
                {"name": "clicked", "filter": ["event_type", "==", "click"],
                 "includeZero": False},
                {"filter": {"column": "event_type", "op": "==",
                            "value": "view"},
                 "target": {"type": "sum", "column": "value", "op": "<",
                            "value": 350}},
                {"filters": [
                    {"column": "event_type", "op": "==", "value": "purchase"},
                    {"column": "value", "op": ">=", "value": 3}],
                 "target": ["sum", "value", "<", 350]},
                {"name": "seq", "sequence": [
                    {"filter": ["event_type", "==", "view"]},
                    {"filters": [
                        {"column": "event_type", "op": "==",
                         "value": "purchase"},
                        {"column": "value", "op": ">=", "value": 3}]},
                    {"rowFound": False,
                     "filter": {"column": "event_type", "op": "==",
                                "value": "error"}}],
                 "maxDuration": (ts_hi - ts_lo) // 2},
            ],
            "aggregations": [
                {"column": "event_type"},
                {"column": "event_id", "type": "count",
                 "name": "purchase_count"},
                {"column": "event_type", "type": "sumPerValue",
                 "otherColumn": "value", "name": "hoola"},
            ],
        },
        "funnel": {
            "sequence": [
                {"filter": ["event_type", "==", "view"]},
                {"filter": {"column": "event_type", "op": "==",
                            "value": "purchase"}}],
            "maxDuration": ts_hi - ts_lo,
            "stepAggregations": [
                {"column": "event_id", "type": "count", "name": "mosh"},
                {"column": "event_type", "type": "groupsPerValue",
                 "name": "mosh2"}],
            "endAggregations": [{"column": "event_type"}],
        },
    }
    eng = QueryEngine("user_id", "ts")
    result = eng.run(ev, q)

    # includeZero + count>=0 makes $did_signup universally true → every
    # group matches the relation.
    all_groups = ev.select("user_id").distinct().count()
    assert result["query"]["matchingGroups"] == all_groups
    aggs = result["query"]["aggregations"]
    # default expansion on bare {"column": ...} → count/countPerValue/
    # groupsPerValue; named aggregations keep their names
    names = {a["name"] for a in aggs if a.get("name")}
    assert {"purchase_count", "hoola"} <= names
    assert len(result["funnel"]["sequence"]) == 2
    step1 = result["funnel"]["sequence"][1]
    assert 0 < step1["matchingGroups"] <= all_groups
    assert step1["aggregations"] is not None
    assert result["funnel"]["endAggregations"] is not None


def test_stats_expose_chosen_strategies(spark, seq_df, monkeypatch):
    """with_stats reports WHICH physical plans ran — the universe
    choice must be auditable from the result JSON alone."""
    from funnel_rocket_spark.engine import QueryEngine
    from funnel_rocket_spark.engine import engine as engine_mod

    eng = QueryEngine("id", "timestamp")
    q = {"query": {"conditions": [{"sequence": [
        {"filter": ["category", "==", 0]},
        {"filter": ["category", "<=", 2]}]}],
        "aggregations": [{"column": "category", "type": "count"}]}}
    res = eng.run(seq_df, q, with_stats=True)
    assert res["stats"]["strategies"] == {"universe": "join",
                                          "sortedLayout": False}

    # which universe the query ran on: the semi join below
    # UNIVERSE_WINDOW_THRESHOLD, the join-free window universe past it,
    # and none built from conditions without them (the universe is the
    # table), with or without query aggregations
    funnel = {"sequence": [{"filter": ["category", "==", 0]},
                           {"filter": ["category", "<=", 2]}],
              "endAggregations": [{"column": "price",
                                   "type": "countPerValue"}]}
    aggs = [{"column": "category", "type": "countPerValue"}]
    fq = {"query": {"conditions": [{"filter": ["price", ">=", 2]}],
                    "aggregations": aggs},
          "funnel": funnel}
    answers = []
    for query, threshold, universe in (
            (fq, 10**12, "join"), (fq, 0, "window"),
            ({"funnel": funnel}, 0, None),
            ({"query": {"aggregations": aggs}, "funnel": funnel}, 0, None)):
        monkeypatch.setattr(engine_mod, "UNIVERSE_WINDOW_THRESHOLD",
                            threshold)
        r = QueryEngine("id", "timestamp").run(seq_df, query,
                                               with_stats=True)
        assert r["stats"]["strategies"]["universe"] == universe, query
        answers.append(r)
    assert answers[0]["query"] == answers[1]["query"]
    assert answers[0]["funnel"] == answers[1]["funnel"] != answers[2]["funnel"]
    assert answers[2]["funnel"] == answers[3]["funnel"]
    assert answers[3]["query"]["aggregations"] is not None
    assert [s["matchingGroups"]
            for s in answers[0]["funnel"]["sequence"]] == [2, 1]

    # the engine derives sortedLayout from the catalog layout record;
    # only the (bucket=group, sort=(group, ts)) shape qualifies
    assert eng._sorted_layout({"buckets": 4, "bucket_columns": ["id"],
                               "sort_columns": ["id", "timestamp"]})
    assert not eng._sorted_layout(None)
    assert not eng._sorted_layout({"buckets": 4, "bucket_columns": ["id"],
                                   "sort_columns": ["timestamp"]})
    assert not eng._sorted_layout({"buckets": 4,
                                   "bucket_columns": ["category"],
                                   "sort_columns": ["category",
                                                    "timestamp"]})


def _funnel_agg_df(spark):
    """Eight users over three event types with NULLs in both the
    aggregated column (``kind``) and ``otherColumn`` (``amount``).
    Amounts are binary fractions, so every sum and mean is exact in any
    summation order. Same-timestamp rows (user u5) cannot chain. Kind
    ``e`` occurs only in a group that passes no step, kind ``f`` only in
    one that passes step 0 alone: neither may appear after those steps."""
    import random

    rng = random.Random(7)
    rows = [(f"u{u}", 10 * j if u != 5 else 10,
             rng.choice(["view", "click", "purchase", "other"]),
             rng.choice(["a", "b", "c", "d", None]),
             rng.choice([1.0, 2.5, 4.0, None]))
            for u in range(8) for j in range(6 + u)]
    rows += [("u8", j, "other", "e", 1.0) for j in range(3)]
    rows += [("u9", j, t, "f", 2.5)
             for j, t in enumerate(["view", "other", "other"])]
    return spark.createDataFrame(
        rows, "uid string, ts long, type string, kind string, amount double")


def _ref_aggregation(agg: dict, rows: list, group_col: str):
    """One aggregation over ``rows`` in pure Python, shaped like the
    engine's result value: the reference's definitions (A4-A8) with
    Spark's NULL rules (count skips NULLs, an all-NULL sum or mean is
    NULL) and the (metric desc, value asc) top-N order, NULLs last in
    the metric and first in the value. An ``approx`` groupsPerValue is
    referenced by the exact count: at this data's cardinalities (at most
    ten groups per value) HLL++'s linear counting returns it exactly."""
    col, atype = agg["column"], agg["type"]
    if atype == "count":
        return sum(r[col] is not None for r in rows)
    by_value: dict = {}
    for r in rows:
        by_value.setdefault(r[col], []).append(r)
    other = agg.get("otherColumn")

    def metric(vrows):
        if atype == "countPerValue":
            return len(vrows)
        if atype == "groupsPerValue":
            return len({r[group_col] for r in vrows})
        xs = [r[other] for r in vrows if r[other] is not None]
        if not xs:
            return None
        return sum(xs) if atype == "sumPerValue" else sum(xs) / len(xs)

    ranked = sorted(((metric(vr), v) for v, vr in by_value.items()),
                    key=lambda mv: (mv[0] is None, -(mv[0] or 0),
                                    mv[1] is not None, mv[1] or ""))
    return {str(v): m for m, v in ranked[:int(agg.get("top", 10))]}


def test_funnel_aggregations_match_per_step_semijoin(spark, monkeypatch):
    """The engine's query and funnel blocks — counts and every query,
    step and end aggregation, computed from one labeled universe —
    equal a reference built here in pure Python over the collected
    rows: the condition's matching groups; each group's passed-step
    count from a transcription of the reference's iterated-min loop
    (strict ``>``, as in test_property_differential), independent of
    window anchors; then each aggregation over the universe rows
    (query block) and over the rows of the groups that passed step i.
    All five aggregation types; ``top=2`` cuts through ties, so the
    (metric desc, value asc) order is checked too. Both universe
    constructions (join and window) run."""
    import math

    from funnel_rocket_spark.engine import QueryEngine
    from funnel_rocket_spark.engine import engine as engine_mod

    df = _funnel_agg_df(spark)
    aggs = [
        {"column": "kind", "type": "count"},
        {"column": "kind", "type": "countPerValue", "top": 2},
        {"column": "kind", "type": "groupsPerValue", "top": 2},
        {"column": "kind", "type": "groupsPerValue", "top": 2,
         "approx": True, "name": "approxGroups"},
        {"column": "kind", "type": "sumPerValue", "otherColumn": "amount",
         "top": 2},
        {"column": "kind", "type": "meanPerValue", "otherColumn": "amount",
         "top": 2},
    ]
    funnel = {"sequence": [{"filter": ["type", "==", "view"]},
                           {"filter": ["type", "==", "click"]},
                           {"filter": ["type", "==", "purchase"]}],
              # top=100 shows every value a step's groups carry
              "stepAggregations": aggs + [{"column": "kind",
                                           "type": "countPerValue",
                                           "top": 100, "name": "all"}],
              # one end spec shared with a step spec, two end-only specs
              "endAggregations": [
                  aggs[1],
                  {"column": "kind", "type": "countPerValue", "top": 1,
                   "name": "top1"},
                  {"column": "kind", "type": "sumPerValue",
                   "otherColumn": "amount", "top": 100, "name": "allSums"}]}
    # query aggregations: specs shared with the step and end blocks
    # (names are unique per query) plus one of their own
    query_aggs = (aggs[:3] + [{**aggs[3], "name": "approxQuery"}] + aggs[4:]
                  + [{"column": "type", "type": "countPerValue", "top": 3,
                      "name": "types"}])
    condition = {"conditions": [{"filter": ["type", "==", "other"],
                                 "target": ["count", ">=", 2]}]}
    all_rows = df.collect()
    n = len(funnel["sequence"])
    step_types = [st["filter"][2] for st in funnel["sequence"]]
    for query in ({}, condition):
        q = {"query": {**query, "aggregations": query_aggs},
             "funnel": funnel}
        others = {}
        for r in all_rows:
            others[r["uid"]] = others.get(r["uid"], 0) + (r["type"] == "other")
        rows = [r for r in all_rows
                if not query or others[r["uid"]] >= 2]
        # per group: anchor = min ts of the step's rows with ts > the
        # previous anchor; done = how many steps chained
        done = {}
        for uid in {r["uid"] for r in rows}:
            grp = [r for r in rows if r["uid"] == uid]
            anchor, done[uid] = -math.inf, 0
            for t in step_types:
                hits = [r["ts"] for r in grp
                        if r["type"] == t and r["ts"] > anchor]
                if not hits:
                    break
                anchor, done[uid] = min(hits), done[uid] + 1
        step_rows = [[r for r in rows if done[r["uid"]] > i]
                     for i in range(n)]

        def block(aggs_, rows_):
            return [(a["type"], a.get("name"),
                     _ref_aggregation(a, rows_, "uid")) for a in aggs_]

        want_query = block(query_aggs, rows)
        want_counts = {i: (sum(d > i for d in done.values()),
                           len(step_rows[i])) for i in range(n)}
        want_steps = [block(funnel["stepAggregations"], step_rows[i])
                      for i in range(n)]
        want_end = block(funnel["endAggregations"], step_rows[n - 1])
        # top=2 cuts through a tie: three kinds share step 0's top
        # groupsPerValue count, so the value-asc tie-break decides
        full = sorted(_ref_aggregation({**aggs[2], "top": 100},
                                       step_rows[0], "uid").values(),
                      reverse=True)
        assert full[1] == full[2], full
        assert want_counts[0][0] > want_counts[n - 1][0] > 0

        for threshold in (0, 10**12):
            monkeypatch.setattr(engine_mod, "UNIVERSE_WINDOW_THRESHOLD",
                                threshold)
            res = QueryEngine("uid", "ts").run(df, q)
            where = (bool(query), threshold)
            assert (res["query"]["matchingGroups"],
                    res["query"]["matchingGroupRows"]) == (len(done),
                                                           len(rows)), where
            blocks = [(res["query"]["aggregations"], want_query)]
            steps = res["funnel"]["sequence"]
            assert {i: (s["matchingGroups"], s["matchingGroupRows"])
                    for i, s in enumerate(steps)} == want_counts, where
            blocks += [(s["aggregations"], want_steps[i])
                       for i, s in enumerate(steps)]
            blocks.append((res["funnel"]["endAggregations"], want_end))
            for k, (got_aggs, want) in enumerate(blocks):
                got = [(a["type"], a["name"], a["value"]) for a in got_aggs]
                assert got == want, (where, k)
                # the top-N keeps the reference's ordering
                assert ([list(v) for _, _, v in got if isinstance(v, dict)]
                        == [list(v) for _, _, v in want
                            if isinstance(v, dict)]), (where, k)
