"""Stream ≡ batch equivalence contracts for the streaming extensions.

The incremental-LSH equivalence test is the template: feed the SAME data
once as arbitrary consecutive micro-batches and once as a single batch,
and require identical results. Hypothesis draws the corpus AND the batch
boundaries, so the state-carrying code paths (resume from state, batch
edges splitting a group's events, duplicates spanning batches) are all
exercised.

Scope note: `incremental_funnel` documents that cross-batch LATE events
cannot retroactively advance a step, so equivalence is asserted for
time-ordered batch boundaries (events sorted by ts, split anywhere) —
exactly the contract the docstring promises. Within a batch, order is
arbitrary (the fold takes minima, not an order).
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from funnel_rocket_spark import QueryEngine
from funnel_rocket_spark.streaming import (incremental_funnel,
                                           streaming_exact_dedup,
                                           streaming_session_stats,
                                           streaming_time_rollup,
                                           streaming_value_counts,
                                           watermarked_sequence_match)
from funnel_rocket_spark.validation import QueryValidationError

SEQ = [{"filter": {"column": "etype", "op": "==", "value": "view"}},
       {"filter": {"column": "etype", "op": "==", "value": "click"}},
       {"filter": {"column": "etype", "op": "==", "value": "purchase"}}]


def _split(items: list, cuts: list[int]) -> list[list]:
    """Consecutive chunks at the (sorted, deduped) cut positions."""
    bounds = sorted({c % (len(items) + 1) for c in cuts})
    out, prev = [], 0
    for b in bounds:
        if b > prev:
            out.append(items[prev:b])
            prev = b
    if prev < len(items):
        out.append(items[prev:])
    return out or [items]


events_st = st.lists(
    st.tuples(st.integers(1, 3),                      # user
              st.integers(0, 9),                      # ts (dups allowed)
              st.sampled_from(["view", "click", "purchase", "other"])),
    min_size=1, max_size=14)


def test_incremental_funnel_stream_equals_batch_engine(spark, tmp_path):
    run_no = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=events_st, cuts=st.lists(st.integers(0, 14), max_size=3))
    def prop(events, cuts):
        run_no[0] += 1
        base = tmp_path / f"f{run_no[0]}"
        indir, ckpt = base / "in", base / "ckpt"
        indir.mkdir(parents=True)
        rows = [{"user_id": u, "ts": float(t), "etype": e}
                for u, t, e in events]
        rows.sort(key=lambda r: r["ts"])  # time-ordered boundaries only
        for i, chunk in enumerate(_split(rows, cuts)):
            pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")

        stream = (spark.readStream
                  .schema("user_id long, ts double, etype string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(indir)))
        name = f"funnel_eq_{run_no[0]}"
        q = (incremental_funnel(stream, SEQ, "user_id", "ts")
             .writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {r["group_id"]: r["m"] for r in spark.sql(
            f"SELECT group_id, max(steps_completed) AS m FROM {name} "
            "GROUP BY group_id").collect()}

        df = spark.createDataFrame(rows)
        plan = QueryEngine("user_id", "ts").plan(
            df, {"funnel": {"sequence": [
                {"filter": [s["filter"]["column"], s["filter"]["op"],
                            s["filter"]["value"]]} for s in SEQ]}})
        want = {r["user_id"]: r["__fr_done"]
                for r in plan.funnel_per_group().collect()
                if r["__fr_done"] > 0}  # done=0 groups emit no update
        assert got == want, (rows, cuts, got, want)

    prop()


# Steps go through the batch engine's validator and predicates, so the
# stream accepts what the engine accepts — shorthand filters, Java-dialect
# regex (a Unicode class, an inline flag after the first character) —
# and returns the engine's answer on it.
ENGINE_STEPS = {
    "shorthand": [{"filter": ["etype", "==", "view"]},
                  {"filter": ["etype", "==", "click"]}],
    "unicode_class_regex": [{"filter": ["etype", "regex", r"^\p{Lu}"]},
                            {"filter": ["etype", "==", "click"]}],
    "inline_flag_regex": [{"filter": ["etype", "regex", "v(?i)IEW"]},
                          {"filter": ["etype", "==", "click"]}],
}


@pytest.mark.parametrize("name", sorted(ENGINE_STEPS))
def test_incremental_funnel_engine_predicates_equal_batch(spark, tmp_path,
                                                          name):
    seq = ENGINE_STEPS[name]
    rows = [{"user_id": 1, "ts": 1.0, "etype": "view"},
            {"user_id": 1, "ts": 2.0, "etype": "click"},
            {"user_id": 2, "ts": 1.0, "etype": "View"},
            {"user_id": 2, "ts": 3.0, "etype": "click"},
            {"user_id": 3, "ts": 1.0, "etype": "vIEW"},
            {"user_id": 3, "ts": 4.0, "etype": "click"},
            {"user_id": 4, "ts": 2.0, "etype": None},
            {"user_id": 4, "ts": 5.0, "etype": "click"},
            {"user_id": 5, "ts": 6.0, "etype": "Click"}]
    indir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    indir.mkdir()
    for i, chunk in enumerate(_split(rows, [4])):
        pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")
    stream = (spark.readStream
              .schema("user_id long, ts double, etype string")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(indir)))
    q = (incremental_funnel(stream, seq, "user_id", "ts")
         .writeStream.format("memory").queryName(f"funnel_engine_{name}")
         .outputMode("update")
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["group_id"]: r["m"] for r in spark.sql(
        f"SELECT group_id, max(steps_completed) AS m "
        f"FROM funnel_engine_{name} GROUP BY group_id").collect()}

    df = spark.createDataFrame(pd.DataFrame(rows))
    plan = QueryEngine("user_id", "ts").plan(df, {"funnel": {"sequence": seq}})
    want = {r["user_id"]: r["__fr_done"]
            for r in plan.funnel_per_group().collect()
            if r["__fr_done"] > 0}
    assert want and got == want, (got, want)


CALL_TIME_ERRORS = {
    "unknown_column": ([{"filter": ["nope", "==", "view"]}],
                       "Unknown column 'nope'"),
    "unknown_op": ([{"filter": ["etype", "~", "view"]}],
                   "does not match schema"),
    "64_steps": ([{"filter": ["etype", "==", "view"]}] * 64,
                 "63-step bitmask limit"),
}


@pytest.mark.parametrize("operator", ["incremental_funnel",
                                      "watermarked_sequence_match"])
@pytest.mark.parametrize("case", sorted(CALL_TIME_ERRORS))
def test_streaming_sequences_raise_validation_errors_at_call_time(
        spark, operator, case):
    seq, message = CALL_TIME_ERRORS[case]
    stream = (spark.readStream.format("rate").load()
              .select(F.col("value").alias("user_id"),
                      F.col("timestamp").alias("ts"),
                      F.lit("view").alias("etype")))
    op = {"incremental_funnel": incremental_funnel,
          "watermarked_sequence_match": watermarked_sequence_match}[operator]
    with pytest.raises(QueryValidationError, match=message):
        op(stream, seq, "user_id", "ts")


# Windowed-aggregation equivalence template (rollup / value counts /
# sessions): time-sorted rows split at arbitrary boundaries, watermark
# "0 seconds" (time-ordered batches never regress event time, so nothing
# is late-dropped), and a far-future SENTINEL row written as the final
# micro-batch so every real window/session closes and append mode emits
# it — the sentinel itself stays open and is excluded from comparison.
# The batch oracle is the SAME aggregation run as a plain DataFrame job.
SENTINEL_TS = "2026-01-02 00:00:00"

timed_rows_st = st.lists(
    st.tuples(st.integers(0, 150),                     # event-time second
              st.sampled_from(["a", "b", "c"])),       # value / group
    min_size=1, max_size=14)


def _ts(sec: int) -> str:
    return f"2026-01-01 00:{sec // 60:02d}:{sec % 60:02d}"


def _write_chunks(indir, rows: list[dict], cuts, sentinel: dict) -> None:
    indir.mkdir(parents=True)
    chunks = _split(rows, cuts)
    for i, chunk in enumerate(chunks):
        pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")
    pd.DataFrame([sentinel]).to_parquet(indir / f"b{len(chunks):02d}.parquet")


def test_streaming_time_rollup_equals_batch(spark, tmp_path):
    run_no = [0]

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=timed_rows_st,
           cuts=st.lists(st.integers(0, 14), max_size=3))
    def prop(events, cuts):
        run_no[0] += 1
        base = tmp_path / f"r{run_no[0]}"
        rows = sorted(({"ts": _ts(s), "etype": e} for s, e in events),
                      key=lambda r: r["ts"])
        _write_chunks(base / "in", rows, cuts,
                      {"ts": SENTINEL_TS, "etype": "zz"})

        stream = (spark.readStream.schema("ts string, etype string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(base / "in"))
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "etype"))
        out = streaming_time_rollup(stream, "ts", every="1 minute",
                                    watermark="0 seconds",
                                    group_cols=["etype"])
        name = f"roll_eq_{run_no[0]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(base / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(str(r["bucket_start"]), r["etype"]): r["n_rows"]
               for r in spark.sql(f"SELECT * FROM {name}").collect()
               if r["etype"] != "zz"}

        batch = (spark.createDataFrame(pd.DataFrame(rows))
                 .select(F.col("ts").cast("timestamp").alias("ts"), "etype")
                 .groupBy(F.window("ts", "1 minute").alias("__w"), "etype")
                 .agg(F.count(F.lit(1)).alias("n_rows")))
        want = {(str(r["__w"]["start"]), r["etype"]): r["n_rows"]
                for r in batch.collect()}
        assert got == want, (rows, cuts, got, want)

    prop()


def test_streaming_value_counts_equals_batch(spark, tmp_path):
    run_no = [0]

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=timed_rows_st,
           cuts=st.lists(st.integers(0, 14), max_size=3))
    def prop(events, cuts):
        run_no[0] += 1
        base = tmp_path / f"v{run_no[0]}"
        rows = sorted(({"ts": _ts(s), "val": e} for s, e in events),
                      key=lambda r: r["ts"])
        _write_chunks(base / "in", rows, cuts,
                      {"ts": SENTINEL_TS, "val": "zz"})

        stream = (spark.readStream.schema("ts string, val string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(base / "in"))
                  .select(F.col("ts").cast("timestamp").alias("ts"), "val"))
        out = streaming_value_counts(stream, "ts", "val",
                                     window="1 minute",
                                     watermark="0 seconds")
        name = f"vc_eq_{run_no[0]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(base / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(str(r["bucket_start"]), r["value"]): r["count"]
               for r in spark.sql(f"SELECT * FROM {name}").collect()
               if r["value"] != "zz"}

        batch = (spark.createDataFrame(pd.DataFrame(rows))
                 .select(F.col("ts").cast("timestamp").alias("ts"), "val")
                 .groupBy(F.window("ts", "1 minute").alias("__w"), "val")
                 .agg(F.count(F.lit(1)).alias("count")))
        want = {(str(r["__w"]["start"]), r["val"]): r["count"]
                for r in batch.collect()}
        assert got == want, (rows, cuts, got, want)

    prop()


def test_streaming_session_stats_equals_batch(spark, tmp_path):
    """session_window in the stream ≡ session_window in a batch job over
    the same rows — micro-batch boundaries splitting a session mid-gap
    must still produce ONE merged session (state-store session merge)."""
    run_no = [0]

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=timed_rows_st,
           cuts=st.lists(st.integers(0, 14), max_size=3))
    def prop(events, cuts):
        run_no[0] += 1
        base = tmp_path / f"s{run_no[0]}"
        rows = sorted(({"ts": _ts(s), "user": e} for s, e in events),
                      key=lambda r: r["ts"])
        _write_chunks(base / "in", rows, cuts,
                      {"ts": SENTINEL_TS, "user": "zz"})

        stream = (spark.readStream.schema("ts string, user string")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(base / "in"))
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "user"))
        out = streaming_session_stats(stream, "user", "ts",
                                      gap="30 seconds",
                                      watermark="0 seconds")
        name = f"sess_eq_{run_no[0]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(base / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = {(r["user"], str(r["session_start"]), str(r["session_end"])):
               r["n_events"]
               for r in spark.sql(f"SELECT * FROM {name}").collect()
               if r["user"] != "zz"}

        batch = (spark.createDataFrame(pd.DataFrame(rows))
                 .select(F.col("ts").cast("timestamp").alias("ts"), "user")
                 .groupBy(F.session_window("ts", "30 seconds").alias("__s"),
                          "user")
                 .agg(F.count(F.lit(1)).alias("n_events")))
        want = {(r["user"], str(r["__s"]["start"]), str(r["__s"]["end"])):
                r["n_events"] for r in batch.collect()}
        assert got == want, (rows, cuts, got, want)

    prop()


# --------------------------------------------------------------------- #
# Watermarked sequence conditions (r11): stream ≡ batch for ARBITRARY
# arrival order — hypothesis permutes the rows before cutting them into
# micro-batches, so early batches routinely carry LATER events than
# following batches (the case incremental_funnel cannot handle). The
# watermark delay exceeds the event-time span, so nothing is ever
# late-dropped, and two far-future heartbeat batches drive the final
# drain (see sequence_stream draining note). Ties (duplicate ts) and
# events matching several steps at once are drawn freely.

WSEQ = [{"filter": ["etype", "==", "view"]},
        {"filter": ["etype", "==", "click"]},
        {"filter": ["etype", "==", "purchase"]}]
_H1 = {"user_id": 999, "ts": "2026-01-02 00:00:00", "etype": "hb"}
_H2 = {"user_id": 999, "ts": "2026-01-03 00:00:00", "etype": "hb"}


def _wseq_stream(spark, indir):
    return (spark.readStream
            .schema("user_id long, ts string, etype string")
            .option("maxFilesPerTrigger", "1").parquet(str(indir))
            .select("user_id", F.to_timestamp("ts").alias("ts"), "etype"))


def _wseq_batch_want(spark, rows, max_duration_ns=None):
    """Batch-engine oracle: per-group furthest step (0-step groups have
    no update rows to compare against)."""
    funnel = {"sequence": WSEQ}
    if max_duration_ns is not None:
        funnel["maxDuration"] = max_duration_ns
    df = (spark.createDataFrame(pd.DataFrame(rows))
          .select("user_id", F.to_timestamp("ts").alias("ts"), "etype"))
    plan = QueryEngine("user_id", "ts").plan(df, {"funnel": funnel})
    return {r["user_id"]: r["__fr_done"]
            for r in plan.funnel_per_group().collect() if r["__fr_done"] > 0}


def _run_wseq(spark, indir, ckpt, name, max_duration=None):
    from funnel_rocket_spark.streaming import watermarked_sequence_match

    out = watermarked_sequence_match(
        _wseq_stream(spark, indir), WSEQ, "user_id", "ts",
        watermark="3600 seconds", max_duration=max_duration)
    q = (out.writeStream.format("memory").queryName(name)
         .outputMode("update")
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    return {r["group_id"]: r["m"] for r in spark.sql(
        f"SELECT group_id, max(steps_completed) AS m FROM {name} "
        "WHERE group_id != 999 GROUP BY group_id").collect()}


wseq_events_st = st.lists(
    st.tuples(st.integers(1, 3),                      # user
              st.integers(0, 9),                      # ts second (dups ok)
              st.sampled_from(["view", "click", "purchase", "other"])),
    min_size=1, max_size=14)


def test_watermarked_sequence_equals_batch_any_arrival_order(
        spark, tmp_path):
    run_no = [0]

    @settings(max_examples=7, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=wseq_events_st,
           order=st.randoms(use_true_random=False),
           cuts=st.lists(st.integers(0, 14), max_size=3),
           dur_s=st.sampled_from([None, None, 3, 6]))
    def prop(events, order, cuts, dur_s):
        run_no[0] += 1
        base = tmp_path / f"w{run_no[0]}"
        indir = base / "in"
        indir.mkdir(parents=True)
        rows = [{"user_id": u, "ts": f"2026-01-01 00:00:{t:02d}",
                 "etype": e} for u, t, e in events]
        arrival = rows[:]
        order.shuffle(arrival)                 # ARBITRARY arrival order
        chunks = _split(arrival, cuts) + [[_H1], [_H2]]
        for i, chunk in enumerate(chunks):
            pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")

        got = _run_wseq(spark, indir, base / "ckpt",
                        f"wseq_eq_{run_no[0]}", max_duration=dur_s)
        want = _wseq_batch_want(
            spark, rows,
            None if dur_s is None else int(dur_s * 1e9))
        assert got == want, (rows, arrival, cuts, dur_s, got, want)

    prop()


def test_watermarked_sequence_checkpoint_resume(spark, tmp_path):
    """Kill the query between micro-batches and restart from the same
    checkpoint: buffered out-of-order events and fold scalars must come
    back from the state store, and the final result must still equal the
    batch engine. (foreachBatch sink — the memory sink refuses
    checkpoint recovery.)"""
    from funnel_rocket_spark.streaming import watermarked_sequence_match

    indir, ckpt = tmp_path / "in", tmp_path / "ckpt"
    indir.mkdir(parents=True)
    rows = [
        {"user_id": 1, "ts": "2026-01-01 00:00:05", "etype": "click"},
        {"user_id": 1, "ts": "2026-01-01 00:00:01", "etype": "view"},
        {"user_id": 1, "ts": "2026-01-01 00:00:05", "etype": "purchase"},
        {"user_id": 2, "ts": "2026-01-01 00:00:03", "etype": "view"},
        {"user_id": 2, "ts": "2026-01-01 00:00:02", "etype": "click"},
        {"user_id": 2, "ts": "2026-01-01 00:00:07", "etype": "click"},
        {"user_id": 2, "ts": "2026-01-01 00:00:07", "etype": "purchase"},
    ]
    got: dict = {}

    def _run_phase():
        def sink(batch_df, _bid):
            for r in batch_df.collect():
                if r["group_id"] != 999:
                    got[r["group_id"]] = max(got.get(r["group_id"], 0),
                                             r["steps_completed"])
        out = watermarked_sequence_match(
            _wseq_stream(spark, indir), WSEQ, "user_id", "ts",
            watermark="3600 seconds")
        q = (out.writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)

    # phase 1: the out-of-order head only (arrival ≠ event order), then
    # stop — state holds buffered pairs, nothing sealed yet
    pd.DataFrame(rows[:2]).to_parquet(indir / "b00.parquet")
    pd.DataFrame(rows[2:4]).to_parquet(indir / "b01.parquet")
    _run_phase()
    # phase 2: remaining events + heartbeats, SAME checkpoint — the
    # restarted query must resume from the state store, not re-read b00
    pd.DataFrame(rows[4:]).to_parquet(indir / "b02.parquet")
    pd.DataFrame([_H1]).to_parquet(indir / "b03.parquet")
    pd.DataFrame([_H2]).to_parquet(indir / "b04.parquet")
    _run_phase()
    want = _wseq_batch_want(spark, rows)
    assert got == want, (got, want)
    # user 1: view@1 arrived after click@5; strict > anchor then allows
    # click@5, and purchase@5 must NOT chain on the tied timestamp
    assert want[1] == 2


ABSEQ = [{"filter": ["etype", "==", "view"]},
         {"filter": ["etype", "==", "error"], "rowFound": False},
         {"filter": ["etype", "==", "purchase"]}]


def test_watermarked_sequence_bounded_absence_equals_batch(
        spark, tmp_path):
    """rowFound:false under a maxDuration bound: the streaming operator
    buffers each group's duration window and resolves it with full
    lookahead once the watermark passes first_anchor + maxDuration —
    the MATCHED-GROUP SET must equal the batch engine's for arbitrary
    arrival order, across duration bounds that land events exactly ON
    the inclusive horizon."""
    from funnel_rocket_spark.streaming import watermarked_sequence_match

    run_no = [0]

    @settings(max_examples=7, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=st.lists(
        st.tuples(st.integers(1, 3), st.integers(0, 9),
                  st.sampled_from(["view", "error", "purchase", "other"])),
        min_size=1, max_size=14),
        order=st.randoms(use_true_random=False),
        cuts=st.lists(st.integers(0, 14), max_size=3),
        dur_s=st.sampled_from([2, 5, 100]))
    def prop(events, order, cuts, dur_s):
        run_no[0] += 1
        base = tmp_path / f"a{run_no[0]}"
        indir = base / "in"
        indir.mkdir(parents=True)
        rows = [{"user_id": u, "ts": f"2026-01-01 00:00:{t:02d}",
                 "etype": e} for u, t, e in events]
        arrival = rows[:]
        order.shuffle(arrival)
        chunks = _split(arrival, cuts) + [[_H1], [_H2]]
        for i, chunk in enumerate(chunks):
            pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")

        out = watermarked_sequence_match(
            _wseq_stream(spark, indir), ABSEQ, "user_id", "ts",
            watermark="3600 seconds", max_duration=dur_s)
        name = f"wabs_eq_{run_no[0]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", str(base / "ckpt"))
             .trigger(availableNow=True).start())
        q.awaitTermination(180)
        got = {r["group_id"] for r in spark.sql(
            f"SELECT group_id FROM {name} "
            "WHERE matched AND group_id != 999").collect()}

        df = (spark.createDataFrame(pd.DataFrame(rows))
              .select("user_id", F.to_timestamp("ts").alias("ts"),
                      "etype"))
        plan = QueryEngine("user_id", "ts").plan(df, {"query": {
            "conditions": [{"sequence": [
                {"filter": s["filter"],
                 **({"rowFound": False} if s.get("rowFound") is False
                    else {})} for s in ABSEQ],
                "maxDuration": int(dur_s * 1e9)}]}})
        want = {r["user_id"]
                for r in plan.matched_groups().select("user_id").collect()}
        assert got == want, (rows, arrival, cuts, dur_s, got, want)

    prop()


# --------------------------------------------------------------------- #
# Streaming sequence AGGREGATIONS (r12): the match stream upserted into
# a latest-value store + a per-(group, value) partial-counts stream
# (plain JVM update-mode agg) — read-time join yields the batch
# engine's step counts and per-value aggregations. Equivalence is
# end-of-stream (all events sealed); arrival order arbitrary.

wsagg_events_st = st.lists(
    st.tuples(st.integers(1, 3),                      # user
              st.integers(0, 9),                      # ts second (dups ok)
              st.sampled_from(["view", "click", "purchase", "other"]),
              st.integers(-3, 5)),                    # metric (negatives!)
    min_size=1, max_size=14)


def _run_wseq_agg_stores(spark, base, rows_arrival, cuts, run_no):
    """Write the arrival chunks + heartbeats, run the match query and
    the partials query into upsert stores, return the store paths."""
    from funnel_rocket_spark.streaming import (group_value_partials,
                                               upsert_latest,
                                               watermarked_sequence_match)

    indir = base / "in"
    indir.mkdir(parents=True)
    chunks = _split(rows_arrival, cuts) + [
        [dict(_H1, metric=0.0)], [dict(_H2, metric=0.0)]]
    for i, chunk in enumerate(chunks):
        pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")

    def stream():
        return (spark.readStream
                .schema("user_id long, ts string, etype string, "
                        "metric double")
                .option("maxFilesPerTrigger", "1").parquet(str(indir))
                .select("user_id", F.to_timestamp("ts").alias("ts"),
                        "etype", "metric"))

    matches_path = str(base / "matches")
    partials_path = str(base / "partials")
    q1 = (watermarked_sequence_match(stream(), WSEQ, "user_id", "ts",
                                     watermark="3600 seconds")
          .writeStream.foreachBatch(upsert_latest(matches_path))
          .outputMode("update")
          .option("checkpointLocation", str(base / "ckpt_m"))
          .trigger(availableNow=True).start())
    q1.awaitTermination(180)
    q2 = (group_value_partials(stream(), "user_id", "etype",
                               metric_col="metric")
          .writeStream.foreachBatch(upsert_latest(partials_path))
          .outputMode("update")
          .option("checkpointLocation", str(base / "ckpt_p"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    return matches_path, partials_path


def test_sequence_step_counts_stream_equals_batch(spark, tmp_path):
    """sequence_step_counts over the two stores ≡ the batch engine's
    funnel_step_counts on the same rows, arbitrary arrival order.
    Heartbeat group 999 never advances a step, so the matches-store
    join excludes it without special-casing."""
    from funnel_rocket_spark.streaming import (compact_latest,
                                               sequence_step_counts)

    run_no = [0]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=wsagg_events_st,
           order=st.randoms(use_true_random=False),
           cuts=st.lists(st.integers(0, 14), max_size=3))
    def prop(events, order, cuts):
        run_no[0] += 1
        base = tmp_path / f"sc{run_no[0]}"
        rows = [{"user_id": u, "ts": f"2026-01-01 00:00:{t:02d}",
                 "etype": e, "metric": float(v)}
                for u, t, e, v in events]
        arrival = rows[:]
        order.shuffle(arrival)
        mp, pp = _run_wseq_agg_stores(spark, base, arrival, cuts, run_no)

        got = {r["step"]: (r["matching_groups"], r["matching_group_rows"])
               for r in sequence_step_counts(spark, mp, pp,
                                             len(WSEQ)).collect()}
        df = (spark.createDataFrame(pd.DataFrame(rows))
              .select("user_id", F.to_timestamp("ts").alias("ts"),
                      "etype", "metric"))
        plan = QueryEngine("user_id", "ts").plan(
            df, {"funnel": {"sequence": WSEQ}})
        want = {r["step"]: (r["matching_groups"], r["matching_group_rows"])
                for r in plan.funnel_step_counts().collect()}
        assert got == want, (rows, cuts, got, want)
        # compaction must not change the answer (latest batch id wins)
        compact_latest(spark, pp, ["group_id", "value"])
        got2 = {r["step"]: (r["matching_groups"],
                            r["matching_group_rows"])
                for r in sequence_step_counts(spark, mp, pp,
                                              len(WSEQ)).collect()}
        assert got2 == want, (got2, want)

    prop()


def test_sequence_step_value_aggs_stream_equals_batch(spark, tmp_path):
    """Per-value battery (countPerValue / groupsPerValue / sumPerValue /
    meanPerValue over rows of groups passing each step) ≡ a pandas
    oracle built from the batch engine's own per-group funnel frame.
    Negative metrics exercise the max_by store resolution (cumulative
    sums are NOT monotone, so a max-per-key reader would be wrong)."""
    from funnel_rocket_spark.streaming import sequence_step_value_aggs

    run_no = [0]

    @settings(max_examples=5, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(events=wsagg_events_st,
           order=st.randoms(use_true_random=False),
           cuts=st.lists(st.integers(0, 14), max_size=3))
    def prop(events, order, cuts):
        run_no[0] += 1
        base = tmp_path / f"sv{run_no[0]}"
        rows = [{"user_id": u, "ts": f"2026-01-01 00:00:{t:02d}",
                 "etype": e, "metric": float(v)}
                for u, t, e, v in events]
        arrival = rows[:]
        order.shuffle(arrival)
        mp, pp = _run_wseq_agg_stores(spark, base, arrival, cuts, run_no)

        out = sequence_step_value_aggs(spark, mp, pp, len(WSEQ)).collect()
        got = {(r["step"], r["value"]):
               (r["count"], r["groups"], r["sum"], r["mean"])
               for r in out}

        df = (spark.createDataFrame(pd.DataFrame(rows))
              .select("user_id", F.to_timestamp("ts").alias("ts"),
                      "etype", "metric"))
        plan = QueryEngine("user_id", "ts").plan(
            df, {"funnel": {"sequence": WSEQ}})
        done = {r["user_id"]: r["__fr_done"]
                for r in plan.funnel_per_group().collect()}
        want = {}
        for i in range(len(WSEQ)):
            passing = {u for u, d in done.items() if d > i}
            sub = [r for r in rows if r["user_id"] in passing]
            by_val: dict = {}
            for r in sub:
                c, g, s = by_val.get(r["etype"], (0, set(), 0.0))
                by_val[r["etype"]] = (c + 1, g | {r["user_id"]},
                                      s + r["metric"])
            for val, (c, g, s) in by_val.items():
                want[(i, val)] = (c, len(g), s, s / c)
        # float sums: compare with tolerance
        assert set(got) == set(want), (rows, cuts, got, want)
        for k in want:
            gc, gg, gs, gm = got[k]
            wc, wg, ws, wm = want[k]
            assert (gc, gg) == (wc, wg), (k, got[k], want[k])
            assert abs(gs - ws) < 1e-9 and abs(gm - wm) < 1e-9, \
                (k, got[k], want[k])

    prop()


def test_watermarked_sequence_rejects_unsupported(spark):
    import pytest as _pytest

    from funnel_rocket_spark.streaming import watermarked_sequence_match

    stream = (spark.readStream.format("rate").load()
              .select(F.col("value").alias("user_id"),
                      F.col("timestamp").alias("ts"),
                      F.lit("view").alias("etype")))
    # absence without a maxDuration bound: unbounded window, refused
    with _pytest.raises(NotImplementedError, match="rowFound"):
        watermarked_sequence_match(
            stream, [{"filter": ["etype", "==", "view"]},
                     {"filter": ["etype", "==", "x"], "rowFound": False}],
            "user_id", "ts")
    # absence-FIRST: the duration window has no anchor to start from
    with _pytest.raises(NotImplementedError, match="rowFound"):
        watermarked_sequence_match(
            stream, [{"filter": ["etype", "==", "x"], "rowFound": False},
                     {"filter": ["etype", "==", "view"]}],
            "user_id", "ts", max_duration=5)
    bad = stream.select("user_id", F.lit(5).alias("ts"), "etype")
    with _pytest.raises(ValueError, match="TIMESTAMP"):
        watermarked_sequence_match(
            bad, [{"filter": ["etype", "==", "view"]}], "user_id", "ts")


docs_st = st.lists(
    st.tuples(st.integers(0, 4),                      # content class
              st.integers(0, 9)),                     # event-time second
    min_size=1, max_size=12)


def test_streaming_exact_dedup_equals_batch_first_seen(spark, tmp_path):
    """One survivor per content digest; for classes spanning micro-batches
    the survivor comes from the EARLIEST batch containing the class (state
    from batch k filters batch k+1) — the batch-equivalence guarantee an
    unbounded watermark makes exact."""
    run_no = [0]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(docs=docs_st, cuts=st.lists(st.integers(0, 12), max_size=3))
    def prop(docs, cuts):
        run_no[0] += 1
        base = tmp_path / f"d{run_no[0]}"
        indir, ckpt = base / "in", base / "ckpt"
        indir.mkdir(parents=True)
        rows = [{"doc_id": i, "ts": f"2024-01-01 00:00:{t:02d}",
                 "text": f"content class {c}"}
                for i, (c, t) in enumerate(docs)]
        rows.sort(key=lambda r: r["ts"])
        chunks = _split(rows, cuts)
        for i, chunk in enumerate(chunks):
            pd.DataFrame(chunk).to_parquet(indir / f"b{i:02d}.parquet")
        first_batch_of = {}  # content class -> earliest chunk index
        for i, chunk in enumerate(chunks):
            for r in chunk:
                first_batch_of.setdefault(r["text"], i)
        batch_of = {r["doc_id"]: i
                    for i, chunk in enumerate(chunks) for r in chunk}

        stream = (spark.readStream
                  .schema("ts string, doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(str(indir))
                  .withColumn("ts", F.to_timestamp("ts")))
        out = streaming_exact_dedup(stream, "ts", watermark="1000 hours")
        name = f"dedup_eq_{run_no[0]}"
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        kept = spark.sql(f"SELECT doc_id, text FROM {name}").collect()

        by_text = {}
        for r in kept:
            by_text.setdefault(r["text"], []).append(r["doc_id"])
        # exactly one survivor per distinct content
        assert sorted(by_text) == sorted({r["text"] for r in rows}), \
            (rows, cuts, by_text)
        assert all(len(v) == 1 for v in by_text.values()), by_text
        # survivor is from the earliest batch containing its class
        for text_val, (doc_id,) in by_text.items():
            assert batch_of[doc_id] == first_batch_of[text_val], \
                (rows, cuts, by_text)

    prop()


def test_content_digest_null_vs_empty_distinct_classes(spark):
    """Null text hashes to the null digest — its OWN duplicate class,
    distinct from md5('') — matching the batch exact_duplicates
    contract (the batch groupBy groups nulls together, separate from
    the empty string; dropDuplicates does the same on the stream)."""
    from funnel_rocket_spark.streaming import content_digest

    df = spark.createDataFrame([(1, None), (2, None), (3, ""), (4, "")],
                               "doc_id long, text string")
    out = df.select("doc_id", content_digest(F.col("text")).alias("d"))
    rows = {r["doc_id"]: r["d"] for r in out.collect()}
    assert rows[1] is None and rows[2] is None
    assert rows[3] == rows[4] and rows[3] is not None
    assert out.dropDuplicates(["d"]).count() == 2
