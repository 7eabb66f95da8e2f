"""Physical-plan regression gates: the shapes that keep queries viable at
100 TB. If any of these fail, the query still returns correct rows at test
scale — and becomes a cluster-killer at real scale. See plans/inspect.py.
"""

import pytest

from funnel_rocket_spark import benchqueries as bq
from funnel_rocket_spark.engine import QueryEngine
from funnel_rocket_spark.plans import (
    count_exchanges,
    formatted_plan,
    pushed_filters,
    read_schema_columns,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return bq.load_table(spark, SF, "events")


@pytest.fixture(scope="module")
def engine():
    return QueryEngine("user_id", "ts")


def test_counts_query_reads_only_used_columns(events, engine):
    plan = engine.plan(events, bq.Q_PURCHASE3)
    [cols] = read_schema_columns(plan.counts())
    assert sorted(cols) == ["event_type", "user_id"]  # no ts, value, props...


def test_timeframe_pushed_to_parquet(events, engine):
    plan = engine.plan(events, bq.Q_TIMEFRAME)
    pushed = pushed_filters(plan.counts())
    assert any("GreaterThanOrEqual(ts" in p for p in pushed), pushed
    assert any("LessThan(ts" in p for p in pushed), pushed


def test_counts_query_single_group_shuffle(events, engine):
    # one exchange on the group key + the single-partition final reduce
    plan = engine.plan(events, bq.Q_PURCHASE3)
    assert count_exchanges(plan.counts()) <= 2


def test_sequence_needs_one_data_exchange(events, engine):
    # 3-step sequence: 1 exchange feeding all chained Windows + final reduce.
    # The groupBy after the windows must REUSE the window partitioning.
    plan = engine.plan(events, bq.Q_SEQUENCE)
    assert count_exchanges(plan.counts()) <= 2


def test_multi_condition_still_one_pass(events, engine):
    plan = engine.plan(events, bq.Q_RELATION)
    assert count_exchanges(plan.counts()) <= 2


def test_bucketed_layout_eliminates_group_shuffle(spark, tmp_path_factory, engine):
    """bucketBy(group) = the reference's every-group-in-one-file invariant,
    declared: condition evaluation AND window sequences lose their group-key
    exchange (only the final single-partition reduce remains)."""
    from funnel_rocket_spark.sources.ingest import write_bucketed

    events = bq.load_table(spark, SF, "events")
    table = "events_bucketed_plan_test"
    write_bucketed(events, table, "user_id", num_buckets=4, sort_col="ts")
    try:
        bdf = spark.table(table)
        assert count_exchanges(engine.plan(bdf, bq.Q_PURCHASE3).counts()) == 1
        assert count_exchanges(engine.plan(bdf, bq.Q_SEQUENCE).counts()) == 1
        assert (engine.plan(bdf, bq.Q_SEQUENCE).counts().collect()
                == engine.plan(events, bq.Q_SEQUENCE).counts().collect())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_sorted_bucketed_layout_is_sort_free(spark, engine):
    """r12: write_bucketed(sort_col) aligns one file per bucket, so the
    scan DECLARES (group, ts) ordering and the window-anchor sequence
    plan contains no Sort node at all — the layout that makes window
    anchors whale-flat (the partition sort was the whale cliff)."""
    from funnel_rocket_spark.plans import count_sorts
    from funnel_rocket_spark.sources.ingest import write_bucketed

    events = bq.load_table(spark, SF, "events")
    table = "events_sorted_bucketed_plan_test"
    write_bucketed(events, table, "user_id", num_buckets=4, sort_col="ts")
    layout = {"buckets": 4, "bucket_columns": ["user_id"],
              "sort_columns": ["user_id", "ts"]}
    try:
        bdf = spark.table(table)
        seq = engine.plan(bdf, bq.Q_SEQUENCE)
        assert count_sorts(seq.counts()) == 0, formatted_plan(seq.counts())
        assert count_exchanges(seq.counts()) == 1  # final reduce only

        # same query WITHOUT the sorted layout pays the window sort
        plain = engine.plan(bq.load_table(spark, SF, "events"),
                            bq.Q_SEQUENCE)
        assert count_sorts(plain.counts()) >= 1

        # engine run: values identical either way; the layout is
        # surfaced in stats, but the universe KEEPS the adaptive
        # matched-count choice — the 100M bucketed rung measured the
        # semi join at-or-below the window flags at both matched-set
        # sizes on this layout (the SMJ's big side is also
        # exchange-free and sort-free there), so small sets still join
        q = {**bq.Q_SEQUENCE,
             "query": {**bq.Q_SEQUENCE["query"],
                       "aggregations": [{"type": "count",
                                         "column": "event_type"}]}}
        got = engine.run(bdf, q, with_stats=True, layout=layout)
        ref = engine.run(bq.load_table(spark, SF, "events"), q,
                         with_stats=True)
        assert got["query"] == ref["query"]
        assert got["stats"]["strategies"]["sortedLayout"] is True
        assert got["stats"]["strategies"]["universe"] == "join"
        assert ref["stats"]["strategies"]["universe"] == "join"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_engine_leaves_callers_session_conf_alone(spark, engine):
    """Planning and running a query on a declared sorted layout writes
    no session conf: on a session whose sorted-scan flag is unset, the
    flag stays unset, the scan keeps its sort, stats report no sorted
    layout, and the answer equals the plain-parquet one."""
    from funnel_rocket_spark.engine.engine import SORTED_SCAN_CONF
    from funnel_rocket_spark.plans import count_sorts
    from funnel_rocket_spark.sources.ingest import write_bucketed

    table = "events_sorted_bucketed_conf_test"
    write_bucketed(bq.load_table(spark, SF, "events"), table, "user_id",
                   num_buckets=4, sort_col="ts")
    layout = {"buckets": 4, "bucket_columns": ["user_id"],
              "sort_columns": ["user_id", "ts"]}
    session = spark.newSession()
    session.conf.unset(SORTED_SCAN_CONF)
    try:
        bdf = session.table(table)
        got = engine.run(bdf, bq.Q_SEQUENCE, with_stats=True, layout=layout)
        assert session.conf.get(SORTED_SCAN_CONF) == "false"
        assert count_sorts(engine.plan(bdf, bq.Q_SEQUENCE).counts()) >= 1
        assert got["stats"]["strategies"]["sortedLayout"] is False
        ref = engine.run(bq.load_table(spark, SF, "events"), bq.Q_SEQUENCE)
        assert got["query"] == ref["query"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_denorm_join_broadcasts(spark):
    df = bq.QUERIES["s5_denorm_join"][0](spark, SF)
    assert "BroadcastHashJoin" in df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def test_funnel_default_single_data_exchange(events, engine):
    """Default (window-anchor) funnel: the anchors window and the
    per-group aggregate share ONE data exchange on the group key, plus
    the single-partition step reduce."""
    q = {"query": {}, "funnel": {"sequence": [
        {"filter": ["event_type", "==", "view"]},
        {"filter": ["event_type", "==", "purchase"]}]}}
    plan = engine.plan(events, q)
    assert count_exchanges(plan.funnel_step_counts()) <= 2


def test_funnel_row_found_false_falls_back_to_window(events, engine):
    q = {"query": {}, "funnel": {"sequence": [
        {"filter": ["event_type", "==", "view"]},
        {"filter": ["event_type", "==", "purchase"], "rowFound": False}]}}
    plan = engine.plan(events, q)
    explained = plan.funnel_step_counts()._sc._jvm.PythonSQLUtils.explainString(
        plan.funnel_step_counts()._jdf.queryExecution(), "simple")
    assert "Window" in explained


def test_funnel_outputs_from_one_labeled_pass(events, engine):
    """Window-anchor funnel with step and end aggregations: the labeled
    universe is join-free, the whole query scans the table once (the
    labeled universe is cached; counts and every aggregation read it),
    and each aggregation's top-N runs as a WindowGroupLimit, which keeps
    a high-cardinality column bounded per task. Query aggregations read
    the same universe: with a condition the query scans the table twice
    (the condition pass, then the universe), without one once."""
    step_agg = {"column": "event_type", "type": "countPerValue", "top": 3}
    q = {"funnel": {"sequence": [
        {"filter": ["event_type", "==", "view"]},
        {"filter": ["event_type", "==", "purchase"]}],
        "stepAggregations": [step_agg],
        "endAggregations": [{"column": "event_type", "type": "sumPerValue",
                             "otherColumn": "value"}]}}
    plan = engine.plan(events, q)
    labeled = plan.labeled()
    assert "Join" not in formatted_plan(labeled)

    res = engine.run(events, q, with_stats=True)
    assert res["stats"]["strategies"]["universe"] is None
    n_rows = events.count()
    # cache reads add one input record per columnar batch, not per row
    assert n_rows <= res["stats"]["worker"]["scannedRows"] < 2 * n_rows

    adf = plan.aggregation_df(step_agg, labeled, [1, 2])
    adf.collect()
    executed = adf._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in executed, executed

    # a query aggregation, a step aggregation and an end aggregation of
    # the same spec: one universe, one aggregation job
    combined = {"query": {"aggregations": [step_agg]},
                "funnel": {**q["funnel"], "endAggregations": [step_agg]}}
    res = engine.run(events, combined, with_stats=True)
    assert res["stats"]["strategies"]["universe"] is None
    assert n_rows <= res["stats"]["worker"]["scannedRows"] < 2 * n_rows
    cond = {**combined, "query": {**combined["query"], "conditions": [
        {"filter": ["event_type", "==", "purchase"]}]}}
    res = engine.run(events, cond, with_stats=True)
    assert res["stats"]["strategies"]["universe"] == "join"
    assert n_rows <= res["stats"]["worker"]["scannedRows"] < 2.5 * n_rows


def test_time_rollup_single_shuffle(spark):
    """Fixed-window rollup is one partial/final aggregate: exactly one
    exchange on (bucket, keys) + nothing else."""
    from funnel_rocket_spark.operators import temporal
    from pyspark.sql import functions as F

    ev = bq.ts_ns(bq.load_table(spark, SF, "events"))
    out = temporal.time_rollup(ev, "ts", every=86_400_000_000_000,
                               group_cols=["event_type"],
                               aggs=[F.count(F.lit(1)).alias("n")])
    assert count_exchanges(out) == 1


def test_simhash_table_single_agg_shuffle(spark):
    """simhash16_table: explode + hash-once projection + ONE groupBy(id)
    exchange (plus the caller-controlled repartition, if any). More
    exchanges means the vote aggregation stopped map-side combining."""
    from funnel_rocket_spark.operators import dedup
    from funnel_rocket_spark.plans import formatted_plan

    docs = bq.load_table(spark, SF, "documents")
    plan = dedup.simhash16_table(docs)
    assert count_exchanges(plan) == 1
    # the hash projection must be a flat Project (md5 once per token), with
    # partial aggregation before the exchange — not an interpreted
    # aggregate-HOF over the token array. (Codegen ids aren't visible in a
    # pre-execution AQE plan, so gate on the node shapes instead.)
    fp = formatted_plan(plan)
    assert "partial_sum" in fp     # map-side combine before the exchange
    assert "aggregate(" not in fp  # no interpreted fold over the token array


def test_repetition_stats_shuffle_free(spark):
    """Per-document repetition signals are pure row-local column math: zero
    exchanges, so the operator scales linearly and partition-local."""
    from funnel_rocket_spark.operators import text

    docs = bq.load_table(spark, SF, "documents")
    assert count_exchanges(text.repetition_stats(docs)) == 0


def test_join_chain_fact_never_shuffle_joins(spark):
    """olap_join_chain (Q5-shaped): after AQE settles, every join must be a
    broadcast — the lineitem fact shuffles only for the final nations-sized
    aggregate (1 exchange) plus the tiny sort (1 range exchange). A
    SortMergeJoin on the fact side here means shuffling the full fact table
    per join at 100 TB."""
    df = bq.QUERIES["olap_join_chain"][0](spark, SF)
    df.collect()  # let AQE finalize join strategies
    fp = formatted_plan(df)
    assert "isFinalPlan=true" in fp
    assert "SortMergeJoin" not in fp, fp
    assert "ShuffledHashJoin" not in fp, fp
    assert fp.count("BroadcastHashJoin") >= 3


def test_pivot_no_join_no_discovery(spark):
    """Pivot with explicit values is pure aggregation: Spark's two-phase
    pivot plan ((priority, status) pre-agg → pivot agg → output sort, 3
    exchanges on ever-shrinking data), with no join and no
    distinct-discovery job (which implicit pivot values would add)."""
    df = bq.QUERIES["olap_pivot"][0](spark, SF)
    assert count_exchanges(df) <= 3
    assert "Join" not in formatted_plan(df)


def test_event_gap_stats_single_window_exchange(spark):
    """lag() + groupBy(event_type): one exchange for the user window, one
    for the per-type aggregate, one output-sort range exchange — and the
    scan reads only the four referenced columns."""
    df = bq.QUERIES["event_gap_stats"][0](spark, SF)
    assert count_exchanges(df) <= 3
    [cols] = read_schema_columns(df)
    assert sorted(cols) == ["event_id", "event_type", "ts", "user_id"]


def test_time_partitioned_layout_prunes(spark, tmp_path):
    """Date-partitioned writes must turn a date-range predicate into
    PartitionFilters on the scan — directories outside the range are never
    listed into tasks (the reference always scans every part)."""
    import pandas as pd

    from funnel_rocket_spark.plans import formatted_plan
    from funnel_rocket_spark.sources.ingest import write_time_partitioned

    from pyspark.sql import functions as F

    src = spark.createDataFrame(pd.DataFrame({
        "ts": pd.to_datetime(
            ["2024-01-01 10:00", "2024-01-02 11:00", "2024-01-03 12:00"]),
        "v": [1, 2, 3],
    }))
    path = str(tmp_path / "tp")
    write_time_partitioned(src, path, "ts", granularity="day")

    back = spark.read.parquet(path)
    q = back.filter(F.col("__pdate") == "2024-01-02")
    fp = formatted_plan(q)
    assert "PartitionFilters" in fp and "__pdate" in fp.split(
        "PartitionFilters")[1][:200], fp
    assert [r["v"] for r in q.collect()] == [2]


def test_vocabulary_two_exchange_no_distinct_expand(spark):
    """vocabulary: per-(token,doc) pre-agg then token agg — exactly two
    exchanges on ever-shrinking keys, both map-side combined, and no
    countDistinct expand (which would double every token row). The final
    top-k must be TakeOrderedAndProject, not a global sort exchange."""
    from funnel_rocket_spark.operators import text

    docs = bq.load_table(spark, SF, "documents")
    out = text.vocabulary(docs, min_count=5, top=200)
    assert count_exchanges(out) == 2
    fp = formatted_plan(out)
    assert "partial_count" in fp and "partial_sum" in fp
    assert "Expand" not in fp
    assert "TakeOrderedAndProject" in fp


def test_pack_token_blocks_single_exchange(spark):
    """pack_token_blocks: ONE exchange total — the window's
    hashpartitioning(shard) already satisfies the groupBy(shard, block_id)
    distribution, so block assembly is partition-local after the single
    shard shuffle. A second exchange here means the packed stream gets
    re-shuffled at 100 TB."""
    from funnel_rocket_spark.operators import text

    docs = bq.load_table(spark, SF, "documents")
    out = text.pack_token_blocks(docs, block_size=128, shards=8)
    assert count_exchanges(out) == 1


def test_nation_share_fact_never_shuffles(spark):
    """olap_nation_share: every dim join must be broadcast — the orders
    fact table reaches the aggregation without a single join exchange.
    A SortMergeJoin here means the fact shuffles per dim at 100 TB."""
    out = bq.QUERIES["olap_nation_share"][0](spark, SF)
    fp = formatted_plan(out)
    assert "SortMergeJoin" not in fp
    # formatted output mentions each node in tree + details sections
    assert fp.count("BroadcastHashJoin") >= 3


def test_rolling_revenue_window_after_preagg(spark):
    """olap_rolling_revenue: the RANGE window must consume the per-day
    pre-aggregate, never raw orders — two exchanges total (daily groupBy
    + the tiny single-partition series window)."""
    out = bq.QUERIES["olap_rolling_revenue"][0](spark, SF)
    assert count_exchanges(out) <= 2
    fp = formatted_plan(out)
    # partial aggregation before the shuffle = map-side combine on the scan
    assert "partial_sum" in fp


def test_part_avg_filter_no_cartesian(spark):
    """olap_part_avg_filter: the per-part limit joins back as an
    equi-join (hash or broadcast), never nested-loop, and the limit side
    is the pre-aggregate (partial_sum present), not a per-row subquery."""
    out = bq.QUERIES["olap_part_avg_filter"][0](spark, SF)
    fp = formatted_plan(out)
    assert "CartesianProduct" not in fp
    assert "BroadcastNestedLoopJoin" not in fp
    assert "partial_" in fp


def test_winsorized_band_broadcasts(spark):
    """olap_winsorized_mean: the 3-row percentile band must broadcast
    back to the fact scan — no sort-merge join of lineitem against a
    3-row frame."""
    out = bq.QUERIES["olap_winsorized_mean"][0](spark, SF)
    fp = formatted_plan(out)
    assert "BroadcastHashJoin" in fp
    assert "SortMergeJoin" not in fp


def test_group_cap_single_window_exchange(spark):
    """sample_group_cap: one rank window on the group partitioning and
    nothing else — the WindowGroupLimit pushdown must prune rows below
    the cap BEFORE they cross the exchange where supported."""
    out = bq.QUERIES["sample_group_cap"][0](spark, SF)
    assert count_exchanges(out) == 1


def test_pii_redact_shuffle_free(spark):
    """text_pii_redact: a pure regexp_replace projection — no
    data-dependent exchange. The ONE allowed exchange is load_spread's
    spread repartition (r12: the single-row-group input otherwise
    serializes the regex work onto one task — 3.4 s vs 0.9 s at sf1),
    which disappears on real multi-split inputs. r13: the spread hashes
    the table's unique key (doc_id) instead of round-robin — no keyed
    GROUPING semantics (the key is unique), just placement without
    round-robin's sortBeforeRepartition local sort."""
    out = bq.QUERIES["text_pii_redact"][0](spark, SF)
    plan = formatted_plan(out)
    assert count_exchanges(out) <= 1, plan
    # the only keyed partitioning allowed is the spread's unique-key hash
    low = plan.lower()
    import re

    for m in re.finditer(r"hashpartitioning\((\w+)", low):
        assert m.group(1).startswith("doc_id"), plan
    assert "rangepartitioning" not in low, plan
    # still a plain projection (AQE hides codegen stars pre-execution;
    # the Python-boundary check is what matters: no Arrow/Python eval)
    assert "Project" in plan, plan
    assert "EvalPython" not in plan, plan


def test_grouping_sets_single_exchange(spark):
    """olap_grouping_sets: the grouping-set expansion happens map-side
    (Expand before the partial aggregate) — one exchange, like cube and
    rollup."""
    out = bq.QUERIES["olap_grouping_sets"][0](spark, SF)
    plan = formatted_plan(out)
    assert count_exchanges(out) == 1, plan
    assert "Expand" in plan


def test_bpe_tokenize_reads_only_needed_columns(spark, tmp_path):
    """The codegen BPE path must push column pruning to the parquet scan:
    (id, text) only, regardless of corpus width."""
    from funnel_rocket_spark.operators.text import bpe_tokenize

    path = str(tmp_path / "wide.parquet")
    spark.createDataFrame(
        [(1, "the cat", "en", 7)],
        "doc_id long, text string, lang string, extra long",
    ).write.parquet(path)
    out = bpe_tokenize(spark.read.parquet(path), [("t", "h")])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert rs and "lang" not in rs[0] and "extra" not in rs[0]
