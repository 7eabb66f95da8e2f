"""Component tests: sources (S5 ingest join, S6 repartition writer, bucketed
tables), CLI, catalog persistence, and the streaming incremental funnel."""

import json
import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from funnel_rocket_spark.sources import ingest_csv_denormalized, repartition_by_group
from funnel_rocket_spark.streaming import incremental_funnel


def test_ingest_csv_denormalized(spark, tmp_path):
    events = tmp_path / "events.csv"
    props = tmp_path / "props.csv"
    events.write_text("visitorid,itemid,event\n1,10,view\n2,10,view\n2,11,buy\n3,99,view\n")
    props.write_text("itemid,categoryid\n10,777\n11,888\n")
    out = ingest_csv_denormalized(spark, str(events), str(props))
    rows = {(r["visitorid"], r["categoryid"]) for r in out.collect()}
    assert rows == {(1, 777), (2, 777), (2, 888)}  # inner join drops item 99


def test_repartition_by_group(spark, tmp_path):
    df = spark.range(1000).select(
        (F.col("id") % 37).alias("uid"), F.col("id").alias("ts"))
    path = str(tmp_path / "parts")
    repartition_by_group(df, path, "uid", num_parts=4, sort_col="ts")
    back = spark.read.parquet(path)
    assert back.count() == 1000
    # every group's rows land in exactly one file (the reference's invariant)
    spread = (back.select("uid", F.input_file_name().alias("f"))
              .groupBy("uid").agg(F.count_distinct("f").alias("nf"))
              .agg(F.max("nf")).collect()[0][0])
    assert spread == 1


def test_catalog_roundtrip(spark, tmp_path):
    from funnel_rocket_spark.catalog import load_dataset, register_dataset

    src = tmp_path / "data"
    spark.range(100).select(
        (F.col("id") % 10).alias("uid"), F.col("id").alias("ts"),
        (F.col("id") * 1.5).alias("price"),
    ).write.parquet(str(src))
    ds = register_dataset(spark, "roundtrip", str(src), "uid", "ts",
                          catalog_dir=str(tmp_path / "cat"))
    loaded = load_dataset(str(tmp_path / "cat"), "roundtrip")
    assert loaded.total_rows == 100
    assert loaded.group_id_column == "uid"
    assert loaded.columns["price"]["coltype"] == "FLOAT"
    assert loaded.columns["price"]["max"] == pytest.approx(148.5)
    assert loaded == ds


def test_catalog_partial_validation_modes(spark, tmp_path):
    """Reference DatasetValidationMode parity: single/first_last/sample
    scan only a file subset, total_rows stays exact (metadata count), and
    --pattern filters discovery. A null planted in an unread middle file
    passes first_last (the reference's documented sampling trade) but is
    caught by full."""
    import pytest as _pytest

    from funnel_rocket_spark.catalog import (DatasetValidationError,
                                             register_dataset)

    src = tmp_path / "parts"
    src.mkdir()
    for i in range(6):
        uid = F.lit(None).cast("long") if i == 3 else (F.col("id") % 5)
        (spark.range(100).select(
            uid.alias("uid"), F.col("id").alias("ts"),
            (F.col("id") % 7).cast("double").alias("price"))
         .coalesce(1).write.parquet(str(src / f"tmp_{i}")))
        # one flat part-i.parquet per iteration, lexicographically ordered
        import glob as g
        import shutil
        part = g.glob(str(src / f"tmp_{i}" / "part-*.parquet"))[0]
        shutil.move(part, str(src / f"part-{i}.parquet"))
        shutil.rmtree(str(src / f"tmp_{i}"))
    (src / "_SUCCESS").write_text("")

    # first_last: reads parts 0 and 5 only — misses part 3's null uid,
    # exactly like the reference's FIRST_LAST; rows exact over ALL files
    ds = register_dataset(spark, "p", str(src), "uid", "ts",
                          validation_mode="first_last")
    assert ds.total_rows == 600
    assert (ds.validation_mode, ds.files_validated, ds.files_total) == \
        ("first_last", 2, 6)

    # single: only part-0
    ds2 = register_dataset(spark, "p2", str(src), "uid", "ts",
                           validation_mode="single")
    assert ds2.total_rows == 600 and ds2.files_validated == 1

    # sample covers all 6 files (cap is 10) → degenerates to full and DOES
    # catch the planted null
    with _pytest.raises(DatasetValidationError, match="null"):
        register_dataset(spark, "p2b", str(src), "uid", "ts",
                         validation_mode="sample")

    with _pytest.raises(DatasetValidationError, match="null"):
        register_dataset(spark, "p3", str(src), "uid", "ts",
                         validation_mode="full")

    # pattern excludes the bad file entirely → full validation passes
    # on parts 0-2 + 4-5... glob can't express that; use a prefix subset
    ds3 = register_dataset(spark, "p4", str(src), "uid", "ts",
                           pattern="part-[012].parquet")
    assert ds3.total_rows == 300 and ds3.files_total == 3


def test_catalog_profile_job_count_and_ts_unit(spark, tmp_path):
    """Registration of a wide table must run a BOUNDED number of Spark jobs
    (one profile aggregate + one batched top-values pass — not one job per
    categorical column), and timestamp-typed columns must be profiled in
    epoch NANOS, the engine's timeframe-literal unit."""
    from funnel_rocket_spark.catalog import register_dataset

    src = tmp_path / "wide"
    cats = [F.concat(F.lit(f"c{i}_"), (F.col("id") % 3).cast("string")
                     ).alias(f"cat{i}") for i in range(8)]
    spark.range(300).select(
        (F.col("id") % 10).alias("uid"),
        F.timestamp_micros(F.col("id") * 1_000_000 +
                           F.lit(1_700_000_000_000_000)).alias("ts"),
        *cats,
    ).write.parquet(str(src))

    # AQE submits one Spark job per shuffle stage, so raw job count is not
    # a stable seam — count driver ACTIONS instead: profiling must run one
    # profile aggregate + one batched top-values pass, never a collect per
    # categorical column.
    from pyspark.sql import DataFrame as _DF

    calls = []
    orig_collect = _DF.collect

    def counting_collect(self):
        calls.append(1)
        return orig_collect(self)

    _DF.collect = counting_collect
    try:
        ds = register_dataset(spark, "wide", str(src), "uid", "ts")
    finally:
        _DF.collect = orig_collect
    assert len(calls) <= 2, f"registration ran {len(calls)} collect() actions"

    # 1.7e18 epoch-nanos: exactly the unit a timeframe literal uses
    assert ds.min_timestamp == 1_700_000_000_000_000_000
    assert ds.max_timestamp == 1_700_000_299_000_000_000
    for i in range(8):
        tv = ds.columns[f"cat{i}"]["top_values"]
        assert set(tv) == {f"c{i}_0", f"c{i}_1", f"c{i}_2"}
        assert tv[f"c{i}_0"] == 100


def test_cli_end_to_end(tmp_path):
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    datadir = str(tmp_path / "ds")
    catalog = str(tmp_path / "cat")
    # build a tiny dataset via a one-off spark job in-process of the CLI run
    build = (
        "from funnel_rocket_spark.session import get_spark;"
        "from pyspark.sql import functions as F;"
        "s=get_spark(master='local[2]');"
        f"s.range(50).select((F.col('id')%5).alias('uid'),F.col('id').alias('ts'),"
        f"(F.col('id')%3==0).alias('promo')).write.parquet('{datadir}');s.stop()"
    )
    subprocess.run([sys.executable, "-c", build], check=True, env=env,
                   capture_output=True)
    reg = subprocess.run(
        [sys.executable, "-m", "funnel_rocket_spark.cli", "--catalog", catalog,
         "register", "tiny", datadir, "uid", "ts"],
        check=True, env=env, capture_output=True, text=True)
    assert '"rows": 50' in reg.stdout

    qfile = tmp_path / "q.json"
    qfile.write_text(json.dumps(
        {"query": {"conditions": [{"filter": ["promo", "==", True]}]}}))
    run = subprocess.run(
        [sys.executable, "-m", "funnel_rocket_spark.cli", "--catalog", catalog,
         "run", "tiny", "--file", str(qfile)],
        check=True, env=env, capture_output=True, text=True)
    result = json.loads(run.stdout)
    assert result["query"]["matchingGroups"] == 5
    assert result["query"]["matchingGroupRows"] == 50


def test_incremental_funnel_stream(spark, tmp_path):
    indir = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    indir.mkdir()
    # batch 1: users advance partially; batch 2: completions + late event
    pd.DataFrame([
        {"user_id": 1, "ts": 1.0, "etype": "view"},
        {"user_id": 1, "ts": 2.0, "etype": "click"},
        {"user_id": 2, "ts": 1.0, "etype": "view"},
        {"user_id": 3, "ts": 5.0, "etype": "click"},  # wrong first step
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"user_id": 1, "ts": 3.0, "etype": "purchase"},
        {"user_id": 2, "ts": 2.0, "etype": "click"},
        {"user_id": 2, "ts": 2.0, "etype": "purchase"},  # same-ts: no chain
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("user_id long, ts double, etype string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir)))
    seq = [{"filter": ["etype", "==", "view"]},
           {"filter": ["etype", "==", "click"]},
           {"filter": ["etype", "==", "purchase"]}]
    # expand shorthand steps like the validator would
    seq = [{"filter": {"column": s["filter"][0], "op": s["filter"][1],
                       "value": s["filter"][2]}} for s in seq]
    out = incremental_funnel(stream, seq, "user_id", "ts")
    q = (out.writeStream.format("memory").queryName("funnel_updates")
         .outputMode("update").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    final = {r["group_id"]: r["steps_completed"]
             for r in spark.sql(
                 "SELECT group_id, max(steps_completed) AS steps_completed "
                 "FROM funnel_updates GROUP BY group_id").collect()}
    assert final[1] == 3   # completed the funnel
    assert final[2] == 2   # same-ts purchase cannot chain after click
    assert 3 not in final  # never matched step 0 → no update emitted


def test_incremental_funnel_max_duration(spark, tmp_path):
    """max_duration parity with the batch engine, enforced ACROSS
    micro-batches: user 1 converts within the window, user 2's purchase
    lands beyond first_anchor + max_duration and must not advance."""
    indir = tmp_path / "in_dur"
    ckpt = tmp_path / "ckpt_dur"
    indir.mkdir()
    pd.DataFrame([
        {"user_id": 1, "ts": 1.0, "etype": "view"},
        {"user_id": 2, "ts": 1.0, "etype": "view"},
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"user_id": 1, "ts": 5.0, "etype": "purchase"},   # within 10
        {"user_id": 2, "ts": 50.0, "etype": "purchase"},  # beyond 10
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("user_id long, ts double, etype string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir)))
    seq = [{"filter": {"column": "etype", "op": "==", "value": "view"}},
           {"filter": {"column": "etype", "op": "==", "value": "purchase"}}]
    out = incremental_funnel(stream, seq, "user_id", "ts", max_duration=10.0)
    q = (out.writeStream.format("memory").queryName("funnel_dur")
         .outputMode("update").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    final = {r["group_id"]: r["steps_completed"]
             for r in spark.sql(
                 "SELECT group_id, max(steps_completed) AS steps_completed "
                 "FROM funnel_dur GROUP BY group_id").collect()}
    assert final[1] == 2
    assert final[2] == 1


def test_streaming_time_rollup(spark, tmp_path):
    from funnel_rocket_spark.streaming import streaming_time_rollup

    indir = tmp_path / "roll_in"
    ckpt = tmp_path / "roll_ckpt"
    indir.mkdir()
    # minute buckets; watermark 30s. Batch 2 carries one late-but-in-grace
    # event (00:50, bucket 0) and advances time far enough (03:00) to
    # finalize buckets 0-1.
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:10", "etype": "view"},
        {"ts": "2026-01-01 00:00:40", "etype": "view"},
        {"ts": "2026-01-01 00:01:20", "etype": "click"},
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:50", "etype": "view"},   # late, in grace
        {"ts": "2026-01-01 00:03:00", "etype": "view"},   # advances watermark
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("ts string, etype string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir))
              .select(F.col("ts").cast("timestamp").alias("ts"), "etype"))
    out = streaming_time_rollup(stream, "ts", every="1 minute",
                                watermark="30 seconds",
                                group_cols=["etype"],
                                aggs=[F.count(F.lit(1)).alias("n")])
    q = (out.writeStream.format("memory").queryName("rollup_out")
         .outputMode("append").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r["bucket_start"]), r["etype"]): r["n"]
           for r in spark.sql("SELECT * FROM rollup_out").collect()}
    # finalized buckets only (bucket 3 is still open when input ends):
    # the late 00:00:50 view IS counted in bucket 0.
    assert got == {("2026-01-01 00:00:00", "view"): 3,
                   ("2026-01-01 00:01:00", "click"): 1}


def test_incremental_funnel_int64_nanos_exact(spark, tmp_path):
    """The funnel state/output schemas follow the ts column's type: with
    double state, int64 epoch-nanos quantize to ~256 ns steps, so two
    events 100 ns apart compare equal and the strict ts > anchor check
    blocks the chain the batch engine matches. Null-ts rows are inert."""
    from funnel_rocket_spark.streaming import incremental_funnel

    import pyarrow as pa
    import pyarrow.parquet as pq

    indir, ckpt = tmp_path / "nf_in", tmp_path / "nf_ckpt"
    indir.mkdir()
    base = 1_700_000_000_000_000_000
    # build via pyarrow: pandas astype('Int64') on an object column with a
    # None goes through float64 and quantizes base+100 back to base —
    # exactly the corruption this test exists to catch in the ENGINE
    pq.write_table(pa.table({
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
        "ts": pa.array([base, base + 100, None, base], pa.int64()),
        "etype": pa.array(["view", "purchase", "view", "purchase"]),
    }), indir / "b1.parquet")

    stream = (spark.readStream.schema("user_id long, ts long, etype string")
              .parquet(str(indir)))
    seq = [{"filter": {"column": "etype", "op": "==", "value": "view"}},
           {"filter": {"column": "etype", "op": "==", "value": "purchase"}}]
    q = (incremental_funnel(stream, seq, "user_id", "ts")
         .writeStream.format("memory").queryName("nanos_funnel")
         .outputMode("update").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["group_id"]: (r["steps_completed"], r["anchor_ts"])
           for r in spark.sql("SELECT * FROM nanos_funnel").collect()}
    # user 1 chains both steps with the EXACT nanos anchor; user 2's null
    # view is skipped, so only step... no view -> purchase can't be step 2,
    # and a purchase alone advances nothing past step 1's predicate
    assert got[1] == (2, base + 100)
    assert 2 not in got or got[2][0] == 0


def test_nanos_to_timestamp_exact_truncation(spark):
    """Double division of epoch-nanos (~256 ns ulp) can round UP before
    the long cast, mapping a boundary event into the wrong bucket; the
    decimal path must truly truncate."""
    from funnel_rocket_spark.streaming import nanos_to_timestamp

    nanos = [1_700_000_000_000_000_999,   # must truncate DOWN
             1_700_000_000_000_000_000,
             999]                          # sub-microsecond -> epoch
    df = spark.createDataFrame([(n,) for n in nanos], "ns long")
    got = [r["us"] for r in df.select(
        F.unix_micros(nanos_to_timestamp(F.col("ns"))).alias("us"))
        .collect()]
    assert got == [n // 1000 for n in nanos], got


def test_streaming_session_stats(spark, tmp_path):
    from funnel_rocket_spark.streaming import streaming_session_stats

    indir = tmp_path / "sess_in"
    ckpt = tmp_path / "sess_ckpt"
    indir.mkdir()
    # gap 1 minute: u1 has two sessions (00:00:10+00:00:40, then 00:05:00),
    # u2 one. Batch 2's 00:20:00 event advances the watermark far enough to
    # finalize them all; its own session stays open and is not emitted.
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:10", "user": "u1"},
        {"ts": "2026-01-01 00:00:40", "user": "u1"},
        {"ts": "2026-01-01 00:00:20", "user": "u2"},
        {"ts": "2026-01-01 00:05:00", "user": "u1"},
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"ts": "2026-01-01 00:20:00", "user": "u2"},
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("ts string, user string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir))
              .select(F.col("ts").cast("timestamp").alias("ts"), "user"))
    out = streaming_session_stats(stream, "user", "ts", gap="1 minute",
                                  watermark="30 seconds")
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user"], str(r["session_start"])): r["n_events"]
           for r in spark.sql("SELECT * FROM sess_out").collect()}
    assert got == {("u1", "2026-01-01 00:00:10"): 2,
                   ("u1", "2026-01-01 00:05:00"): 1,
                   ("u2", "2026-01-01 00:00:20"): 1}


def test_streaming_exact_dedup(spark, tmp_path):
    from funnel_rocket_spark.streaming import streaming_exact_dedup

    indir = tmp_path / "dedup_in"
    ckpt = tmp_path / "dedup_ckpt"
    indir.mkdir()
    # The digest is the BATCH exact_duplicates digest: RAW text. Case/
    # whitespace variants are DIFFERENT content (near-dup is the MinHash
    # family's job) — an exact-dedup stream must never delete data the
    # batch exact contract keeps. doc 2 repeats doc 1 byte-for-byte; the
    # null-text docs 6 and 7 form one class like the curate dedup_exact
    # stage.
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:01", "doc_id": 1, "text": "Hello  World"},
        {"ts": "2026-01-01 00:00:02", "doc_id": 2, "text": "Hello  World"},
        {"ts": "2026-01-01 00:00:03", "doc_id": 3, "text": "hello world"},
        {"ts": "2026-01-01 00:00:04", "doc_id": 6, "text": None},
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:30", "doc_id": 4, "text": "Hello  World"},
        {"ts": "2026-01-01 00:00:31", "doc_id": 5, "text": "brand new"},
        {"ts": "2026-01-01 00:00:32", "doc_id": 7, "text": None},
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("ts string, doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir))
              .select(F.col("ts").cast("timestamp").alias("ts"),
                      "doc_id", "text"))
    out = streaming_exact_dedup(stream, "ts", watermark="5 minutes")
    q = (out.writeStream.format("memory").queryName("dedup_out")
         .outputMode("append").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    survivors = sorted(r["doc_id"] for r in
                       spark.sql("SELECT * FROM dedup_out").collect())
    # exact duplicates 2, 4 (byte-equal to 1) and 7 (second null) drop;
    # the case/space variant 3 SURVIVES
    assert survivors == [1, 3, 5, 6]


def test_jsonl_roundtrip(spark, tmp_path):
    """write_sharded_jsonl → ingest_jsonl roundtrip: fixed shard count,
    deterministic hash routing, schema-first read (no inference pass),
    corrupt-line capture."""
    import json as jsonlib

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from funnel_rocket_spark import benchqueries as bq
    from funnel_rocket_spark.sources import ingest

    docs = bq.load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_jsonl")
    ingest.write_sharded_jsonl(docs, path, shards=4, shard_col="doc_id")

    files = [f for f in __import__("os").listdir(path)
             if f.startswith("part-")]
    assert len(files) == 4

    schema = docs.schema
    back = ingest.ingest_jsonl(spark, path, schema=schema)
    assert back.count() == docs.count()
    a = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    b = {r["doc_id"]: r["text"] for r in back.select("doc_id", "text").collect()}
    assert a == b

    # deterministic routing: same shard for the same doc on a re-write
    path2 = str(tmp_path / "docs_jsonl2")
    ingest.write_sharded_jsonl(docs, path2, shards=4, shard_col="doc_id")

    def shard_map(p):
        out = {}
        for i, f in enumerate(sorted(
                x for x in __import__("os").listdir(p)
                if x.startswith("part-"))):
            for line in open(f"{p}/{f}"):
                out[jsonlib.loads(line)["doc_id"]] = i
        return out

    assert shard_map(path) == shard_map(path2)

    # exactly-N even for a keyspace smaller than the shard count: the
    # identity partitioner puts each id in its hashed shard and empty
    # shards are padded with empty part files
    tiny = docs.limit(2)
    path3 = str(tmp_path / "docs_tiny")
    ingest.write_sharded_jsonl(tiny, path3, shards=8, shard_col="doc_id")
    files3 = [f for f in __import__("os").listdir(path3)
              if f.startswith("part-")]
    assert len(files3) == 8
    back3 = ingest.ingest_jsonl(spark, path3, schema=schema)
    assert back3.count() == 2

    # corrupt-line capture: malformed JSON lands in the side column
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"doc_id": 1, "text": "ok"}\nnot json at all\n')
    schema2 = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("_bad", T.StringType()),
    ])
    got = ingest.ingest_jsonl(spark, str(bad), schema=schema2,
                              corrupt_col="_bad")
    rows = got.collect()
    assert len(rows) == 2
    assert sum(r["_bad"] is not None for r in rows) == 1


def test_streaming_value_counts(spark, tmp_path):
    """Streaming twin of countPerValue/groupsPerValue: windowed counts
    finalize (append-mode) once the watermark passes the window end; the
    still-open window is withheld."""
    from funnel_rocket_spark.streaming import streaming_value_counts

    indir = tmp_path / "vc_in"
    ckpt = tmp_path / "vc_ckpt"
    indir.mkdir()
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:10", "etype": "view", "user": "u1"},
        {"ts": "2026-01-01 00:00:40", "etype": "view", "user": "u2"},
        {"ts": "2026-01-01 00:00:50", "etype": "click", "user": "u1"},
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"ts": "2026-01-01 00:00:55", "etype": "view", "user": "u1"},
        {"ts": "2026-01-01 00:03:00", "etype": "view", "user": "u9"},
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("ts string, etype string, user string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir))
              .select(F.col("ts").cast("timestamp").alias("ts"),
                      "etype", "user"))
    out = streaming_value_counts(stream, "ts", "etype", window="1 minute",
                                 watermark="30 seconds", group_col="user")
    q = (out.writeStream.format("memory").queryName("vc_out")
         .outputMode("append").option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(str(r["bucket_start"]), r["value"]): (r["count"],
                                                  r["approx_groups"])
           for r in spark.sql("SELECT * FROM vc_out").collect()}
    # bucket 00:00 finalized: 3 views (incl. the 00:00:55 late-in-grace
    # one) over 2 distinct users (u1, u2), 1 click; 00:03 still open →
    # withheld
    assert got == {("2026-01-01 00:00:00", "view"): (3, 2),
                   ("2026-01-01 00:00:00", "click"): (1, 1)}


def test_catalog_bucketed_table_dataset(spark, tmp_path):
    """Table-backed registration: the bucket/sort spec is recorded, load()
    goes through spark.table, and an engine query on the loaded frame
    keeps ONLY the single-partition final reduce — the declared-layout
    invariant flowing through the catalog."""
    from funnel_rocket_spark import benchqueries as bq
    from funnel_rocket_spark.catalog import load_dataset, register_dataset
    from funnel_rocket_spark.engine import QueryEngine
    from funnel_rocket_spark.plans import count_exchanges
    from funnel_rocket_spark.sources.ingest import write_bucketed

    ev = bq.load_table(spark, "/root/testdata/sf0.001", "events")
    table = "events_catalog_bucketed_test"
    write_bucketed(ev, table, "user_id", num_buckets=4, sort_col="ts")
    try:
        ds = register_dataset(spark, "bucketed_ds", None, "user_id", "ts",
                              catalog_dir=str(tmp_path / "cat"), table=table)
        assert ds.layout == {"buckets": 4, "bucket_columns": ["user_id"],
                             "sort_columns": ["user_id", "ts"]}
        loaded = load_dataset(str(tmp_path / "cat"), "bucketed_ds")
        assert loaded.table == table and loaded.layout == ds.layout

        df = loaded.load(spark)
        eng = QueryEngine("user_id", "ts")
        assert count_exchanges(eng.plan(df, bq.Q_PURCHASE3).counts()) == 1
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_incremental_dedup(spark, tmp_path):
    """Rolling-index streaming dedup: batch 2's near-dups are caught both
    against batch 1 (via the persisted band index) and within batch 2 —
    and the index/corpus roll forward per batch."""
    from funnel_rocket_spark.streaming import streaming_incremental_dedup

    indir = tmp_path / "inc_in"
    indir.mkdir()
    boiler = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    pd.DataFrame([
        {"doc_id": 1, "text": boiler},
        {"doc_id": 2, "text": other},
    ]).to_parquet(indir / "b1.parquet")
    pd.DataFrame([
        {"doc_id": 10, "text": boiler + " tail"},   # near-dup of batch-1 doc
        {"doc_id": 11, "text": other},              # exact dup of batch-1 doc
        {"doc_id": 12, "text": other + " variant"}, # near-dup of 11 AND 2
        {"doc_id": 13, "text": " ".join(f"z{i}" for i in range(30))},
    ]).to_parquet(indir / "b2.parquet")

    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(str(indir)))
    q = (streaming_incremental_dedup(
            stream,
            corpus_path=str(tmp_path / "corpus"),
            index_path=str(tmp_path / "index"),
            pairs_path=str(tmp_path / "pairs"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    pairs = {(r["id_a"], r["id_b"])
             for r in spark.read.parquet(str(tmp_path / "pairs")).collect()}
    assert (1, 10) in pairs   # cross-batch via the index
    assert (2, 11) in pairs   # cross-batch exact dup
    assert (11, 12) in pairs  # within-batch
    assert not any(a == 13 or b == 13 for a, b in pairs)
    # the index rolled forward: both batches' band rows are present
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert set(r["batch"] for r in idx.select("batch").distinct().collect()) \
        == {0, 1}
    assert spark.read.parquet(str(tmp_path / "corpus")).count() == 6


def test_stateless_text_operators_stream_unchanged(spark, tmp_path):
    """quality_score / redact_pii / classifier_score are pure projections,
    so the SAME operator call runs on a readStream frame with no changes —
    and produces the batch path's exact values."""
    from funnel_rocket_spark.operators import text as text_ops

    indir = tmp_path / "txt_in"
    indir.mkdir()
    rows = [
        {"doc_id": 1, "text": "the quick brown fox mail me a@b.co today"},
        {"doc_id": 2, "text": "und now für etwas completely different"},
    ]
    pd.DataFrame(rows).to_parquet(indir / "b1.parquet")

    batch_df = spark.read.parquet(str(indir))
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(str(indir)))

    def run_stream(df, name):
        q = (df.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(60)
        return {r["doc_id"]: tuple(r)[1:]
                for r in spark.sql(f"SELECT * FROM {name}").collect()}

    for name, op in [("q_score", text_ops.quality_score),
                     ("q_pii", text_ops.redact_pii),
                     ("q_clf", text_ops.classifier_score),
                     ("q_gopher", text_ops.gopher_quality_filter),
                     ("q_c4", text_ops.c4_line_filter)]:
        got = run_stream(op(stream), name)
        want = {r["doc_id"]: tuple(r)[1:] for r in op(batch_df).collect()}
        assert got == want, name


def test_compact_band_index_preserves_results(spark, tmp_path):
    """Compaction folds batch=N dirs into one batch=-1 partition: the
    index answers identically before and after; re-compaction is a no-op;
    the stream's batch retry filter still applies (-1 != any batch id)."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark.operators import dedup
    from funnel_rocket_spark.streaming import compact_band_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    newb = docs.filter(F.col("doc_id") % 3 == 2)
    idx_path = str(tmp_path / "band_index")
    dedup.minhash_band_table(b0).write.parquet(f"{idx_path}/batch=0")
    dedup.minhash_band_table(b1).write.parquet(f"{idx_path}/batch=1")
    corpus = b0.unionByName(b1)

    def pairs_with_current_index():
        idx = spark.read.parquet(idx_path).drop("batch")
        return sorted(map(tuple, dedup.incremental_lsh_pairs(
            newb, corpus, index=idx).collect()))

    before = pairs_with_current_index()
    removed = compact_band_index(spark, idx_path)
    assert removed == 2
    after = pairs_with_current_index()
    assert after == before and len(after) > 0
    # single batch=-1 partition remains; row multiset preserved (distinct)
    batches = {r["batch"] for r in
               spark.read.parquet(idx_path).select("batch").distinct().collect()}
    assert batches == {-1}
    # idempotent: nothing live to fold
    assert compact_band_index(spark, idx_path) == 0
    assert pairs_with_current_index() == before
    # a retry-style exclusion of a real batch id keeps the compacted rows
    kept = spark.read.parquet(idx_path).where(F.col("batch") != 7).count()
    assert kept == spark.read.parquet(idx_path).count()


def test_compact_band_index_crash_recovery(spark, tmp_path):
    """ADVICE r4 (high): a crash between the aside-rename and the
    tmp→batch=-1 promotion leaves .compact_tmp as the ONLY complete copy
    of the compacted rows. The next invocation must PROMOTE it (the
    completion marker proves the write finished), never delete it; a
    markerless tmp (crashed mid-write) must be discarded with batch=-1
    left intact."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from funnel_rocket_spark.operators import dedup
    from funnel_rocket_spark.streaming import compact_band_index

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    idx_path = str(tmp_path / "band_index")
    dedup.minhash_band_table(b0).write.parquet(f"{idx_path}/batch=0")
    dedup.minhash_band_table(b1).write.parquet(f"{idx_path}/batch=1")
    assert compact_band_index(spark, idx_path) == 2
    want = sorted(map(tuple, spark.read.parquet(idx_path)
                      .drop("batch").collect()))

    # -- crash window: batch=-1 renamed aside, tmp not yet promoted -----
    shutil.move(f"{idx_path}/batch=-1", f"{idx_path}/.compact_tmp")
    open(f"{idx_path}/.compact_tmp/_FRS_COMPLETE", "w").close()
    assert not os.path.exists(f"{idx_path}/batch=-1")
    compact_band_index(spark, idx_path)  # recovery path
    got = sorted(map(tuple, spark.read.parquet(idx_path)
                     .drop("batch").collect()))
    assert got == want and len(got) > 0, \
        "recovery lost the previously-compacted band rows"

    # -- markerless tmp (crashed mid-write) is discarded, not promoted --
    os.makedirs(f"{idx_path}/.compact_tmp", exist_ok=True)
    open(f"{idx_path}/.compact_tmp/part-garbage.parquet", "w").close()
    dedup.minhash_band_table(
        docs.filter(F.col("doc_id") % 3 == 2)
    ).write.parquet(f"{idx_path}/batch=2")
    assert compact_band_index(spark, idx_path) == 1
    assert not os.path.exists(f"{idx_path}/.compact_tmp")
    n_after = spark.read.parquet(idx_path).count()
    assert n_after >= len(want)


def test_object_store_scheme_round_trip(spark):
    """Non-local filesystem coverage (reference ships S3 handlers with
    mock-S3 component tests — frocket/common/helpers/storage.py:101-145,
    tests/utils/mock_s3_utils.py). Hadoop's viewfs:// is a real
    non-`file` scheme resolved through the Hadoop FileSystem API exactly
    like s3a:// — mounted here onto local testdata. Registration,
    engine query, and the footer-sizing fallback must all behave
    identically to the local path."""
    from funnel_rocket_spark import QueryEngine, register_dataset
    from funnel_rocket_spark.operators import similarity

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    hc.set("fs.viewfs.mounttable.frstest.link./data",
           "file:///root/testdata")
    remote = "viewfs://frstest/data/sf0.001/events.parquet"
    ds = register_dataset(spark, "ev_remote", remote,
                          group_id_column="user_id", timestamp_column="ts")
    assert ds.total_rows == 1000 and ds.total_groups > 0
    df = ds.load(spark)
    assert df.inputFiles()[0].startswith("viewfs://")

    q = {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"],
         "target": ["count", ">=", 3]}]}}
    eng = QueryEngine("user_id", "ts")
    got = eng.run(df, q)
    local = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    want = eng.run(local, q)
    assert got == want

    # footer sizing: viewfs is not locally-readable parquet -> refuse the
    # footer bound (None), never a wrong number
    assert similarity._scan_rowcount_upper_bound(df) is None


def test_sharded_jsonl_append_mode(spark, tmp_path):
    """mode="append" with shard_col: a second write must not collide with
    the flat part files the first flatten produced (Hadoop rename returns
    false onto an existing destination). New files continue the -{j}
    suffix; stale -empty pads are replaced when a shard gains data; total
    row count is the sum of both writes."""
    import os

    from funnel_rocket_spark import benchqueries as bq
    from funnel_rocket_spark.sources import ingest

    docs = bq.load_table(spark, "/root/testdata/sf0.001", "documents")
    first, second = docs.limit(40), docs.limit(80).subtract(docs.limit(40))
    path = str(tmp_path / "docs_append")
    ingest.write_sharded_jsonl(first, path, shards=4, shard_col="doc_id")
    ingest.write_sharded_jsonl(second, path, shards=4, shard_col="doc_id",
                               mode="append")

    files = [f for f in os.listdir(path) if f.startswith("part-")]
    # every shard id still present; no __shard= dirs left behind
    assert {f[5:10] for f in files} == {f"{i:05d}" for i in range(4)}
    assert not any(f.startswith("__shard=") for f in os.listdir(path))
    back = ingest.ingest_jsonl(spark, path, schema=docs.schema)
    assert back.count() == first.count() + second.count()
    # a shard that holds data must not also hold a stale -empty pad
    for i in range(4):
        shard_files = [f for f in files if f.startswith(f"part-{i:05d}")]
        data = [f for f in shard_files if not f.endswith("-empty.json")]
        if data:
            assert not [f for f in shard_files if f.endswith("-empty.json")]


def test_sharded_jsonl_flatten_viewfs(spark, tmp_path):
    """VERDICT r5 #6: _flatten_shard_dirs claims scheme-agnostic Hadoop-FS
    renames — prove it through a non-`file` scheme. viewfs:// resolves
    through the Hadoop FileSystem API exactly like s3a://; the write, the
    __shard= dir flatten, the empty-shard padding, and the read-back must
    all behave identically to the local path."""
    import os

    from funnel_rocket_spark import benchqueries as bq
    from funnel_rocket_spark.sources import ingest

    hc = spark.sparkContext._jsc.hadoopConfiguration()
    # distinct mount table name: Hadoop caches FileSystem instances per
    # scheme+authority, so reusing another test's table could serve a
    # stale mount map
    hc.set("fs.viewfs.mounttable.frsjsonl.link./out", f"file://{tmp_path}")
    docs = bq.load_table(spark, "/root/testdata/sf0.001", "documents") \
        .limit(60)
    remote = "viewfs://frsjsonl/out/docs_jsonl"
    ingest.write_sharded_jsonl(docs, remote, shards=4, shard_col="doc_id")

    local = tmp_path / "docs_jsonl"
    files = [f for f in os.listdir(local) if f.startswith("part-")]
    assert len(files) == 4
    assert not any(f.startswith("__shard=")
                   for f in os.listdir(local))

    back = ingest.ingest_jsonl(spark, remote, schema=docs.schema)
    assert back.count() == 60


def test_bench_suite_spread_semantics():
    """bench.py's noise metric: warm-run spreads only (first run pays
    codegen with 3+ runs), p90 across the suite, None when empty."""
    import sys

    sys.path.insert(0, "/root/repo")
    try:
        from bench import suite_spread
    finally:
        sys.path.pop(0)
    # 3 runs: first (cold, 5.0) excluded -> spread = 1.1/1.0
    assert suite_spread({"q": [5.0, 1.0, 1.1]}) == 1.1
    # 2 runs: both count
    assert suite_spread({"q": [2.0, 1.0]}) == 2.0
    # p90 across many stable queries with one contended one
    rt = {f"q{i}": [9.9, 1.0, 1.0] for i in range(9)}
    rt["slow"] = [9.9, 1.0, 2.0]
    assert suite_spread(rt) == 2.0  # p90 lands on the contended query
    assert suite_spread({}) is None
    assert suite_spread({"z": [0.0, 0.0]}) is None
