"""Concurrent multi-tenant serving — the reference serves many queries at
once (each HTTP request fans out its own Lambda tasks,
``/root/reference/frocket/apiserver.py`` + invoker); the Spark engine's
equivalent is one shared SparkSession with per-request scheduler pools
(api.py ``_run``). These tests pin what that shape depends on: results
under concurrency equal serial results (same engine, racing identical
plans included — shared cache-manager entries must not corrupt either
run), and pool tags stay on their own request thread.

The FAIR-mode throughput/fairness story needs a fresh context and 20M
rows — that lives in ``tools/scale_check.py concurrent``
(tools/rung_concurrent_r12.json), not here.
"""

import json
import threading
from concurrent.futures import ThreadPoolExecutor

from funnel_rocket_spark.engine import QueryEngine

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"

QUERIES = {
    "count3": {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"],
         "target": ["count", ">=", 3]}]}},
    "sum_target": {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"],
         "target": ["sum", "value", ">", 900.37]}]}},
    "seq": {"query": {"conditions": [
        {"sequence": [{"filter": ["event_type", "==", "signup"]},
                      {"filter": ["event_type", "==", "purchase"]}]}]}},
    "funnel": {"query": {}, "funnel": {"sequence": [
        {"filter": ["event_type", "==", "view"]},
        {"filter": ["event_type", "==", "purchase"]}]}},
    "per_value": {"query": {"aggregations": [
        {"column": "event_type", "type": "countPerValue", "top": 5}]}},
}


def test_concurrent_queries_match_serial(spark):
    eng = QueryEngine("user_id", "ts")
    # each shape twice: the repeat makes two threads race the SAME plan
    tasks = [(f"{name}#{i}", q)
             for i in (0, 1) for name, q in QUERIES.items()]

    serial = {}
    for tid, q in tasks:
        serial[tid] = eng.run(spark.read.parquet(SF_EVENTS), q)

    results = {}

    def worker(tid, q):
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"frs-{tid}")
        try:
            results[tid] = eng.run(spark.read.parquet(SF_EVENTS), q)
        finally:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", None)

    with ThreadPoolExecutor(max_workers=4) as pool:
        for f in [pool.submit(worker, tid, q) for tid, q in tasks]:
            f.result()

    assert results == serial


def test_scheduler_pool_property_is_thread_local(spark):
    """Pool tags must not bleed across request threads: PySpark's
    pinned-thread mode keeps ``setLocalProperty`` per-Python-thread,
    which is what lets api.py tag each request's jobs independently."""
    sc = spark.sparkContext
    seen = {}

    def tagged():
        sc.setLocalProperty("spark.scheduler.pool", "frs-tagged")
        seen["tagged"] = sc.getLocalProperty("spark.scheduler.pool")
        barrier.wait(timeout=30)

    def untagged():
        barrier.wait(timeout=30)  # after the other thread set its tag
        seen["untagged"] = sc.getLocalProperty("spark.scheduler.pool")

    barrier = threading.Barrier(2)
    threads = [threading.Thread(target=tagged),
               threading.Thread(target=untagged)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert seen["tagged"] == "frs-tagged"
    assert seen["untagged"] is None


def test_api_concurrent_requests(spark, tmp_path_factory):
    """Two overlapping HTTP queries through the real Flask app: both
    succeed, return distinct request ids, and match the values a serial
    client sees."""
    from funnel_rocket_spark.api import create_app

    catalog = str(tmp_path_factory.mktemp("conc_catalog"))
    app = create_app(spark=spark, catalog_dir=catalog)
    app.config["TESTING"] = True
    with app.test_client() as c:
        r = c.post("/datasets/register", json={
            "name": "ev", "basepath": SF_EVENTS,
            "group_id_column": "user_id", "timestamp_column": "ts"})
        assert r.status_code == 200

    expected = {}
    with app.test_client() as c:
        for name in ("count3", "seq"):
            body = c.post("/datasets/ev/query",
                          json=QUERIES[name]).get_json()
            expected[name] = body["query"]

    out = {}

    def call(name):
        # one test client per thread — Flask clients aren't thread-safe
        with app.test_client() as c:
            out[name] = c.post("/datasets/ev/query",
                               json=QUERIES[name]).get_json()

    threads = [threading.Thread(target=call, args=(n,))
               for n in ("count3", "seq")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert out["count3"]["success"] and out["seq"]["success"]
    assert out["count3"]["requestId"] != out["seq"]["requestId"]
    for name in ("count3", "seq"):
        assert out[name]["query"] == expected[name]


def test_admission_control(spark, tmp_path_factory):
    """max_inflight bounds executing queries: with the single slot held,
    a query gets an immediate 429 (kind=overloaded, Retry-After); once
    the slot frees, the same query succeeds — and a successful query
    returns its slot (the gate is back to capacity afterwards)."""
    from funnel_rocket_spark.api import create_app

    catalog = str(tmp_path_factory.mktemp("adm_catalog"))
    app = create_app(spark=spark, catalog_dir=catalog, max_inflight=1)
    app.config["TESTING"] = True
    gate = app.config["QUERY_GATE"]
    with app.test_client() as c:
        r = c.post("/datasets/register", json={
            "name": "ev", "basepath": SF_EVENTS,
            "group_id_column": "user_id", "timestamp_column": "ts"})
        assert r.status_code == 200

        assert gate.acquire(blocking=False)  # server "full"
        try:
            r = c.post("/datasets/ev/query", json=QUERIES["count3"])
            assert r.status_code == 429
            body = r.get_json()
            assert body["kind"] == "overloaded" and not body["success"]
            assert r.headers["Retry-After"] == "1"
            # metadata routes are never gated
            assert c.get("/datasets").status_code == 200
            # shed requests surface in /metrics for alerting
            metrics = c.get("/metrics").get_data(as_text=True)
            assert 'shed_requests_total{dataset="ev"} 1' in metrics
        finally:
            gate.release()

        r = c.post("/datasets/ev/query", json=QUERIES["count3"])
        assert r.status_code == 200 and r.get_json()["success"]
        # slot returned: full capacity available again
        assert gate.acquire(blocking=False)
        gate.release()


def test_admission_control_streaming_holds_slot(spark, tmp_path_factory):
    """A streaming query holds its slot for the NDJSON generator's
    lifetime and frees it when the stream completes."""
    from funnel_rocket_spark.api import create_app

    catalog = str(tmp_path_factory.mktemp("adm_stream_catalog"))
    app = create_app(spark=spark, catalog_dir=catalog, max_inflight=1)
    app.config["TESTING"] = True
    gate = app.config["QUERY_GATE"]
    with app.test_client() as c:
        r = c.post("/datasets/register", json={
            "name": "ev", "basepath": SF_EVENTS,
            "group_id_column": "user_id", "timestamp_column": "ts"})
        assert r.status_code == 200
        r = c.post("/datasets/ev/query?stream=true", json=QUERIES["seq"])
        assert r.status_code == 200
        lines = [json.loads(ln) for ln in
                 r.get_data(as_text=True).strip().splitlines()]
        assert lines[-1]["success"]
        assert gate.acquire(blocking=False)  # freed after the stream
        gate.release()


def test_fair_pool_tiers():
    """Priority-tier plumbing: the allocation XML writer emits the
    declared weights/minShares with internally-FAIR pools, and the
    request→pool mapping prefers a sanitized tier header over the
    per-request pool."""
    import os

    from funnel_rocket_spark.api import pool_for_request
    from funnel_rocket_spark.session import write_fair_allocation

    path = write_fair_allocation({
        "interactive": {"weight": 4, "minShare": 8},
        "batch": {"weight": 1}})
    try:
        xml = open(path).read()
        assert '<pool name="interactive">' in xml
        assert "<weight>4</weight>" in xml and "<minShare>8</minShare>" in xml
        assert '<pool name="batch">' in xml and "<weight>1</weight>" in xml
        assert xml.count("<schedulingMode>FAIR</schedulingMode>") == 2
    finally:
        os.unlink(path)

    assert pool_for_request("123-abc", None) == "frs-123-abc"
    assert pool_for_request("123-abc", "interactive") == "interactive"
    # hostile header collapses to the safe per-request pool
    assert pool_for_request("123-abc", "../; rm $(x)") == "..rmx"
    assert pool_for_request("123-abc", ";$()") == "frs-123-abc"


def test_api_accepts_pool_header(spark, tmp_path_factory):
    from funnel_rocket_spark.api import create_app

    catalog = str(tmp_path_factory.mktemp("tier_catalog"))
    app = create_app(spark=spark, catalog_dir=catalog)
    app.config["TESTING"] = True
    with app.test_client() as c:
        r = c.post("/datasets/register", json={
            "name": "ev", "basepath": SF_EVENTS,
            "group_id_column": "user_id", "timestamp_column": "ts"})
        assert r.status_code == 200
        r = c.post("/datasets/ev/query", json=QUERIES["count3"],
                   headers={"X-Query-Pool": "interactive"})
        assert r.status_code == 200 and r.get_json()["success"]
