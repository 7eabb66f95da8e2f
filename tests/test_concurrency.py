"""Job-server scenario: ONE SparkSession shared by concurrent query
threads — the deployment shape `api.py` serves (its docstring recommends a
FAIR pool for multi-tenant use) and the reason `bounded_persist` carries a
lock and semantics-keyed ring. Nothing here may flake: every query is
deterministic, so interleaved runs must equal their serial runs exactly.
"""

import concurrent.futures
import threading

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_concurrent_queries_one_session(spark):
    """Interleaved catalog queries from 6 threads × 2 rounds — includes
    persist-ring users (dedup composites) and engine queries. Results
    must equal the serial baseline; exercises _RING_LOCK + sameSemantics
    keying under genuine contention (an unlocked FIFO ring here evicted
    plan-identical entries mid-query in rounds ≤4)."""
    import funnel_rocket_spark.benchqueries as bq

    qs = bq.queries()
    names = ["fr_count_target", "dedup_minhash_lsh", "text_quality",
             "fr_sequence", "dedup_exact", "olap_percentiles"]
    serial = {n: sorted(map(tuple, qs[n](spark, SF).collect()))
              for n in names}

    def run(n):
        return n, sorted(map(tuple, qs[n](spark, SF).collect()))

    with concurrent.futures.ThreadPoolExecutor(max_workers=6) as ex:
        futures = [ex.submit(run, n) for n in names for _ in range(2)]
        for f in concurrent.futures.as_completed(futures, timeout=600):
            n, rows = f.result()
            assert rows == serial[n], f"concurrent result diverged: {n}"


def test_job_group_stats_are_thread_scoped(spark):
    """setJobGroup is thread-local, so two queries running concurrently on
    one driver must each snapshot ONLY their own scan volume — the
    property that makes the per-query stats block trustworthy in a job
    server. Sums (not count()) force real row scans: parquet count()
    short-circuits to footer row counts and reports zero inputRecords."""
    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    events = spark.read.parquet(f"{SF}/events.parquet")
    lineitem = spark.read.parquet(f"{SF}/lineitem.parquet")
    n_events = events.count()
    n_lineitem = lineitem.count()
    assert n_events != n_lineitem  # distinct volumes, distinguishable

    snaps = {}
    barrier = threading.Barrier(2, timeout=120)

    def work(name, df, value_col):
        barrier.wait()  # maximize overlap
        with JobGroupMetrics(spark, name) as jg:
            df.agg(F.sum(F.length(value_col))).collect()
            snaps[name] = jg.snapshot()

    t1 = threading.Thread(target=work, args=("ev", events, "event_type"))
    t2 = threading.Thread(target=work, args=("li", lineitem, "l_returnflag"))
    t1.start(); t2.start()
    t1.join(300); t2.join(300)

    assert snaps["ev"]["worker"]["scannedRows"] == n_events
    assert snaps["li"]["worker"]["scannedRows"] == n_lineitem


def test_concurrent_aggregation_collection_matches_serial(spark,
                                                         monkeypatch):
    """AGG_COLLECT_THREADS>1 submits a query's independent aggregation
    jobs (query, step and end specs) concurrently; the result JSON must
    be byte-identical to the serial engine."""
    from funnel_rocket_spark import QueryEngine
    from funnel_rocket_spark.engine import engine as engine_mod

    def run(threads, *args, **kwargs):
        monkeypatch.setattr(engine_mod, "AGG_COLLECT_THREADS", threads)
        return QueryEngine("user_id", "ts").run(*args, **kwargs)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = {"query": {"conditions": [
            {"filter": ["event_type", "==", "purchase"]}],
         "aggregations": [
            {"column": "event_type", "type": "countPerValue", "top": 10},
            {"column": "event_type", "type": "sumPerValue",
             "otherColumn": "value", "top": 10},
            {"column": "event_type", "type": "groupsPerValue", "top": 10},
            {"column": "event_type", "type": "meanPerValue",
             "otherColumn": "value", "top": 10}]},
         "funnel": {"sequence": [
            {"filter": ["event_type", "==", "view"]},
            {"filter": ["event_type", "==", "purchase"]}],
            "stepAggregations": [
                {"column": "event_type", "type": "countPerValue",
                 "top": 5}]}}
    serial = run(1, ev, q)
    conc = run(8, ev, q)
    assert serial == conc
    assert conc["query"]["aggregations"][1]["type"] == "sumPerValue"
    assert all(s["aggregations"] for s in conc["funnel"]["sequence"])


def test_concurrent_aggregation_jobs_stay_in_stats_job_group(spark,
                                                            monkeypatch):
    """setJobGroup is thread-local, so aggregation jobs submitted from
    pool worker threads would escape the query's JobGroupMetrics group —
    and with_stats would silently under-report scan volume for every
    multi-aggregation query at the default AGG_COLLECT_THREADS=8. The
    pool must propagate the caller's job group: serial and concurrent
    runs of the same query must report the SAME worker-side counters."""
    from funnel_rocket_spark import QueryEngine
    from funnel_rocket_spark.engine import engine as engine_mod

    def run(threads, *args, **kwargs):
        monkeypatch.setattr(engine_mod, "AGG_COLLECT_THREADS", threads)
        return QueryEngine("user_id", "ts").run(*args, **kwargs)

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    q = {"query": {"conditions": [
            {"filter": ["event_type", "==", "purchase"]}],
         "aggregations": [
            {"column": "event_type", "type": "countPerValue", "top": 10},
            {"column": "event_type", "type": "sumPerValue",
             "otherColumn": "value", "top": 10},
            {"column": "event_type", "type": "groupsPerValue",
             "top": 10}]}}
    serial = run(1, ev, q, with_stats=True)
    conc = run(8, ev, q, with_stats=True)
    sw, cw = serial["stats"]["worker"], conc["stats"]["worker"]
    assert cw["scannedRows"] == sw["scannedRows"]
    assert cw["scannedRows"] > 0
    # task COUNTS may differ by a few: concurrent jobs racing into the
    # shared persisted universe can each compute a partition the other
    # would have reused. The invariant is that the pool's jobs are SEEN
    # (pre-fix, the group missed them and under-counted drastically)
    assert conc["stats"]["invoker"]["totalTasks"] >= \
        serial["stats"]["invoker"]["totalTasks"]
