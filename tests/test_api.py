"""API-server tests via Flask's test client against a live SparkSession —
mirrors the reference's service-tier tests (SURVEY §5 tier 3)."""

import json

import pytest

from funnel_rocket_spark.api import create_app

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def client(spark, tmp_path_factory):
    catalog = str(tmp_path_factory.mktemp("api_catalog"))
    app = create_app(spark=spark, catalog_dir=catalog)
    app.config["TESTING"] = True
    with app.test_client() as c:
        yield c


def test_register_and_list(client):
    r = client.post("/datasets/register", json={
        "name": "ev", "basepath": SF_EVENTS,
        "group_id_column": "user_id", "timestamp_column": "ts"})
    assert r.status_code == 200
    body = r.get_json()
    assert body["success"] and body["dataset"]["totalRows"] == 1000

    r = client.get("/datasets")
    assert [d["name"] for d in r.get_json()] == ["ev"]

    r = client.get("/datasets/ev/schema")
    assert r.get_json()["groupIdColumn"] == "user_id"
    assert "event_type" in r.get_json()["columns"]
    # short form omits the profile; ?full=true includes it
    assert "top_values" not in r.get_json()["columns"]["event_type"]
    r = client.get("/datasets/ev/schema?full=true")
    assert "top_values" in r.get_json()["columns"]["event_type"]

    r = client.get("/datasets/ev/parts")
    body = r.get_json()
    assert body["totalParts"] >= 1 and body["totalSize"] > 0
    assert all(p["name"].endswith(".parquet") for p in body["parts"])


def test_query_routes(client):
    q = {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 3]}]}}
    r = client.post("/datasets/ev/query", json=q)
    assert r.status_code == 200
    body = r.get_json()
    assert body["query"]["matchingGroups"] == 15
    stats = body["stats"]
    assert stats["engine"] == "spark"
    # reference-stats parity (stats_builder.py / docs/api.md 645-736):
    # task counts, scan volume, shuffle volume, dataset parts/size — all
    # read from the query's own job group in the AppStatusStore
    assert stats["invoker"]["totalTasks"] > 0
    assert stats["invoker"]["failedTasks"] == 0
    assert stats["invoker"]["jobs"] >= 1
    w = stats["worker"]
    assert w["scannedRows"] == 1000          # every event row scanned once
    assert w["scannedBytes"] > 0
    assert w["shuffleWriteBytes"] > 0        # the groupBy exchange
    assert w["shuffleReadRecords"] == w["shuffleWriteRecords"]
    assert w["executorRunSeconds"] > 0
    assert stats["cost"] >= 0  # reference's priced-compute field
    # per-task timing distribution (reference worker totalTime analog)
    assert stats["worker"]["taskTime"]["max"] >= stats["worker"]["taskTime"]["min"]
    assert stats["dataset"]["parts"] >= 1 and stats["dataset"]["totalSize"] > 0
    # reference envelope: success + "<unix-seconds>-<hex8>" request id
    assert body["success"] is True
    secs, _, tail = body["requestId"].partition("-")
    assert secs.isdigit() and len(tail) == 8

    r = client.get("/datasets/ev/empty-query")
    assert r.get_json()["query"]["matchingGroupRows"] == 1000


def test_unregister_in_use_guard(spark, tmp_path_factory):
    """A just-queried dataset refuses unregistration (500) unless
    ?force=true; response reports datasetFound/datasetLastUsed and a
    missing dataset does not fail."""
    catalog = str(tmp_path_factory.mktemp("unreg_catalog"))
    app = create_app(spark=spark, catalog_dir=catalog)
    app.config["TESTING"] = True
    with app.test_client() as c:
        c.post("/datasets/register", json={
            "name": "g", "basepath": SF_EVENTS,
            "group_id_column": "user_id", "timestamp_column": "ts"})
        assert c.get("/datasets/g/empty-query").status_code == 200

        r = c.post("/datasets/g/unregister")
        assert r.status_code == 500 and r.get_json()["success"] is False

        r = c.post("/datasets/g/unregister?force=true")
        body = r.get_json()
        assert r.status_code == 200 and body["success"]
        assert body["datasetFound"] is True
        assert body["datasetLastUsed"] is not None

        r = c.post("/datasets/g/unregister")
        assert r.status_code == 200
        assert r.get_json()["datasetFound"] is False


def test_query_streaming_progress(client):
    r = client.post("/datasets/ev/query?stream=true", json={})
    lines = [json.loads(ln) for ln in r.get_data(as_text=True).splitlines()]
    assert len(lines) >= 1
    final = lines[-1]
    assert final["query"]["matchingGroups"] == 15
    for progress in lines[:-1]:
        assert progress["stage"] == "running"


def test_register_missing_required_fields_is_400(client):
    """A missing required register field must keep the JSON 400 contract,
    not surface as a Flask 500 KeyError page."""
    r = client.post("/datasets/register", json={"basepath": "/nope"})
    assert r.status_code == 400
    body = r.get_json()
    assert body["success"] is False
    assert "missing required field" in body["errorMessage"]
    assert "name" in body["errorMessage"]


def test_streaming_invalid_query_is_http_400(client):
    """?stream=true only changes how RESULTS are delivered — an invalid
    query must still fail as HTTP 400 with the 'kind' field, not as an
    in-band error tail of a 200 NDJSON stream."""
    r = client.post("/datasets/ev/query?stream=true", json={
        "query": {"conditions": [{"filter": ["nope", "==", 1]}]}})
    assert r.status_code == 400
    body = r.get_json()
    assert body["success"] is False
    assert "kind" in body
    assert "Unknown column" in body["errorMessage"]


def test_register_unreadable_basepath_is_json_400(client, tmp_path):
    """A basepath that does not exist, or an empty directory, answers the
    route's JSON 400 naming the path, not Flask's HTML 500."""
    empty = tmp_path / "empty"
    empty.mkdir()
    for path in (str(tmp_path / "nowhere"), str(empty)):
        r = client.post("/datasets/register", json={
            "name": "unreadable", "basepath": path,
            "group_id_column": "user_id", "timestamp_column": "ts"})
        assert r.status_code == 400, r.get_data(as_text=True)
        body = r.get_json()
        assert body["success"] is False and path in body["errorMessage"]


def test_error_paths(client):
    r = client.post("/datasets/ev/query", json={
        "query": {"conditions": [{"filter": ["nope", "==", 1]}]}})
    assert r.status_code == 400
    assert "Unknown column" in r.get_json()["errorMessage"]

    r = client.post("/datasets/missing/query", json={})
    assert r.status_code == 404

    r = client.post("/datasets/register", json={
        "name": "bad", "basepath": SF_EVENTS,
        "group_id_column": "value", "timestamp_column": "ts"})
    assert r.status_code == 400

    # ev was queried moments ago in this module → force past the guard
    r = client.post("/datasets/ev/unregister?force=true")
    assert r.get_json()["datasetFound"] is True
    assert client.get("/datasets").get_json() == []


def test_stats_fallback_public_tracker_api(spark, monkeypatch):
    """Version-proofing: if the statusStore reflection path breaks (a Spark
    minor bump moving private plumbing), the snapshot must degrade to the
    PUBLIC StatusTracker API — task/stage counts populated, volumes zeroed,
    marked partial — not to an empty ``{"partial": true}`` shell."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    def boom(self, sc, stage_ids, out):
        raise RuntimeError("simulated: private statusStore plumbing moved")

    monkeypatch.setattr(JobGroupMetrics, "_fill_from_status_store", boom)
    with JobGroupMetrics(spark, "fallback test") as jg:
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")) \
            .count().collect()
        snap = jg.snapshot()
    assert snap["partial"] is True
    assert snap["statsSource"] == "statusTracker"
    assert snap["invoker"]["jobs"] >= 1
    assert snap["invoker"]["stages"] >= 1
    assert snap["invoker"]["totalTasks"] > 0
    assert snap["invoker"]["failedTasks"] == 0
    # volumes are honest zeros on the fallback path, never fabricated
    assert snap["worker"]["scannedBytes"] == 0


def test_prom_registry_exposition():
    """Unit contract of the hand-rolled Prometheus text format: cumulative
    buckets + +Inf + sum/count for histograms, _total counters, per-unit
    bucket selection by name suffix (the reference's MeasuredUnit.unitof)."""
    from funnel_rocket_spark.engine.prom import PromRegistry

    reg = PromRegistry()
    labels = {"dataset": "ev", "success": "true", "type": "query"}
    reg.inc("query_requests_total", labels)
    reg.inc("query_requests_total", labels)
    reg.observe("invoker_total_seconds", labels, 0.3)
    reg.observe("invoker_total_seconds", labels, 7.0)
    text = reg.exposition()
    assert ('query_requests_total{dataset="ev",success="true",type="query"}'
            ' 2') in text
    # seconds buckets: 0.3 lands in le=0.5 and later; 7.0 only in >=10
    assert 'invoker_total_seconds_bucket{dataset="ev",success="true",' \
           'type="query",le="0.5"} 1' in text
    assert 'invoker_total_seconds_bucket{dataset="ev",success="true",' \
           'type="query",le="10"} 2' in text
    assert 'le="+Inf"} 2' in text
    assert 'invoker_total_seconds_sum{dataset="ev",success="true",' \
           'type="query"} 7.3' in text
    assert 'invoker_total_seconds_count{dataset="ev",success="true",' \
           'type="query"} 2' in text
    # unknown unit suffix falls back to the default buckets
    reg.observe("things_other", labels, 3)
    assert 'things_other_bucket{dataset="ev",success="true",' \
           'type="query",le="5"} 1' in reg.exposition()


def test_metrics_endpoint(client):
    """GET /metrics after this module's earlier register + query traffic:
    reference prom_adapter parity — counters and unit-bucketed histograms
    labeled by dataset/success/type."""
    r = client.get("/metrics")
    assert r.status_code == 200
    assert "version=0.0.4" in r.content_type
    text = r.get_data(as_text=True)
    # successful queries were recorded with engine stats folded in
    assert 'query_requests_total{dataset="ev",success="true",type="query"}' \
        in text
    assert "invoker_total_seconds_bucket" in text and 'le="+Inf"' in text
    assert 'scanned_rows_count{dataset="ev",success="true",type="query"}' \
        in text
    assert "cost_dollars_sum" in text
    # registrations carry type="register" (reference JobTypeLabel)
    assert 'type="register"' in text
    # the earlier unknown-column query + bad registration landed as
    # success="false" series
    assert 'success="false"' in text


def test_prom_label_escaping():
    from funnel_rocket_spark.engine.prom import PromRegistry

    reg = PromRegistry()
    reg.inc("query_requests_total",
            {"dataset": 'we"ird\\name\nx', "success": "true"})
    text = reg.exposition()
    assert r'dataset="we\"ird\\name\nx"' in text


def test_catalog_entry_with_removed_profile_keys_still_loads(
        spark, tmp_path, capsys):
    """Catalog JSON written by earlier versions carries profile keys the
    Dataset no longer has (group-size histogram, segmented-fold cost
    premium) and lacks the schema and part files registration now
    records. Such an entry must still load through the API and answer
    a sequence query exactly like a freshly registered dataset; the API
    and the CLI list it, ``cli info`` prints it without the unknown keys,
    and ``/parts`` lists the files its pattern matches."""
    import shutil
    from dataclasses import asdict

    from funnel_rocket_spark import cli
    from funnel_rocket_spark.catalog import register_dataset
    from funnel_rocket_spark.engine import QueryEngine

    catalog = tmp_path / "cat"
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(SF_EVENTS, data / "events.parquet")
    ds = register_dataset(spark, "old", str(data), "user_id", "ts")
    entry = asdict(ds)
    # an entry that old also lacks the recorded part list and schema
    assert entry.pop("files") == [str(data / "events.parquet")]
    assert entry.pop("schema")["type"] == "struct"
    saved = {**entry,
             "max_group_rows": 30,
             "group_rows_topk": [30, 28, 27],
             "segmented_cost_premium": 11.8,
             "premium_calibration": {
                 "premium": 11.8, "rows": [100000, 400000],
                 "timings": {"window.100000": 0.21,
                             "window.400000": 0.25,
                             "fold_segmented.100000": 0.4,
                             "fold_segmented.400000": 0.9}}}
    catalog.mkdir()
    (catalog / "old.json").write_text(json.dumps(saved))
    (data / "_SUCCESS").write_text("")  # in basepath, not in the pattern

    app = create_app(spark=spark, catalog_dir=str(catalog))
    app.config["TESTING"] = True
    q = {"query": {"conditions": [{"sequence": [
        {"filter": ["event_type", "==", "view"]},
        {"filter": ["event_type", "==", "purchase"]}]}]}}
    with app.test_client() as c:
        r = c.post("/datasets/old/query", json=q)
        assert r.status_code == 200, r.get_data(as_text=True)
        body = r.get_json()
        assert c.get("/datasets/old/schema").status_code == 200
        assert c.get("/datasets").get_json() == [
            {"name": "old", "basepath": str(data), "totalRows": 1000}]
        assert [p["name"] for p in
                c.get("/datasets/old/parts").get_json()["parts"]] == \
            ["events.parquet"]

    assert cli.main(["--catalog", str(catalog), "list"]) == 0
    assert capsys.readouterr().out == f"old\t{data}\trows=1000\tgroups=" \
        f"{ds.total_groups}\n"
    assert cli.main(["--catalog", str(catalog), "info", "old"]) == 0
    info = json.loads(capsys.readouterr().out)
    assert info["name"] == "old" and info["total_rows"] == 1000
    assert "max_group_rows" not in info and "columns" not in info

    want = QueryEngine("user_id", "ts").run(ds.load(spark), q)
    assert body["query"] == want["query"]
    assert body["query"]["matchingGroups"] > 0


_STATS_QUERY = {
    "query": {"conditions": [{"filter": ["event_type", "==", "purchase"]}],
              "aggregations": [{"column": "event_type",
                                "type": "countPerValue", "top": 5}]},
    "funnel": {"sequence": [{"filter": ["event_type", "==", "view"]},
                            {"filter": ["event_type", "==", "purchase"]}]}}


def test_stats_fallback_keeps_counts_and_result(spark, monkeypatch):
    """The statusTracker fallback, reached through an engine query: the
    snapshot is marked partial, counts the same jobs, stages and tasks as
    the full path over the same job group, reports zero volumes, and the
    query result itself does not change."""
    from funnel_rocket_spark import QueryEngine
    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    ev = spark.read.parquet(SF_EVENTS)
    eng = QueryEngine("user_id", "ts")
    full = eng.run(ev, _STATS_QUERY, with_stats=True)
    with JobGroupMetrics(spark, "fallback counts") as jg:
        eng.run(ev, _STATS_QUERY)
        store_snap = jg.snapshot()

        def boom(self, sc, stage_ids, out):
            raise RuntimeError("simulated: private statusStore plumbing moved")

        monkeypatch.setattr(JobGroupMetrics, "_fill_from_status_store", boom)
        tracker_snap = jg.snapshot()
    degraded = eng.run(ev, _STATS_QUERY, with_stats=True)

    assert "partial" not in store_snap
    assert store_snap["worker"]["scannedRows"] > 0
    for snap in (tracker_snap, degraded["stats"]):
        assert snap["partial"] is True
        assert snap["statsSource"] == "statusTracker"
        assert all(v == 0 for v in snap["worker"].values())
    assert tracker_snap["invoker"] == store_snap["invoker"]
    assert jg.stages == []
    full.pop("stats"), degraded.pop("stats")
    assert degraded == full


def test_stage_rows_and_job_intervals_cover_the_snapshot(spark, monkeypatch):
    """The per-stage rows a snapshot keeps add up to its totals, every
    row has a wall time (0.0 for a stage skipped because its shuffle
    output existed), and the job-interval reader returns one interval
    per job the snapshot counted."""
    from funnel_rocket_spark import QueryEngine
    from funnel_rocket_spark.engine import metrics

    made = []

    class Recording(metrics.JobGroupMetrics):
        # the engine imports the class at call time, so it makes these
        def __init__(self, *args, **kwargs):
            super().__init__(*args, **kwargs)
            made.append(self)

    monkeypatch.setattr(metrics, "JobGroupMetrics", Recording)
    res = QueryEngine("user_id", "ts").run(
        spark.read.parquet(SF_EVENTS), _STATS_QUERY, with_stats=True)
    (jg,) = made
    inv, w = res["stats"]["invoker"], res["stats"]["worker"]
    assert w["scannedRows"] > 0
    assert len(jg.stages) == inv["stages"]
    assert sum(s["tasks"] for s in jg.stages) == inv["totalTasks"]
    assert sum(s["failedTasks"] for s in jg.stages) == inv["failedTasks"]
    for key, total in w.items():
        if key == "taskTime":
            continue
        rows = [s[key] for s in jg.stages]
        want = max(rows) if key == "peakExecutionMemory" else sum(rows)
        assert total == pytest.approx(want, abs=1e-3), key
    assert all(isinstance(s["wallSeconds"], float) and s["wallSeconds"] >= 0
               for s in jg.stages)
    assert any(s["wallSeconds"] > 0 for s in jg.stages)
    intervals = jg.job_intervals()
    assert len(intervals) == inv["jobs"] > 0
    assert all(j["completedMs"] >= j["submittedMs"] for j in intervals)
    assert [j["submittedMs"] for j in intervals] == \
        sorted(j["submittedMs"] for j in intervals)


def test_profile_tool_reports_one_catalog_query(spark, tmp_path, capsys):
    """``tools/spark_profile.py``'s routine on the shared session: the summary
    line, a record whose stage rows and job timeline match its own
    counts, and the plan written where the caller said."""
    import importlib.util
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "spark_profile.py")
    spec = importlib.util.spec_from_file_location("frs_profile_tool", path)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    sf = os.path.dirname(SF_EVENTS)
    report = tool.profile(spark, sf, ["fr_funnel_step_agg"], runs=1,
                          plans_dir=str(tmp_path / "plans"))
    rec = report["fr_funnel_step_agg"]
    assert rec["min_s"] > 0 and rec["build_s"] >= 0
    assert rec["jobs"] == len(rec["job_timeline"]) > 0
    assert rec["tasks"] == sum(s["tasks"] for s in rec["stage_rows"]) > 0
    assert rec["job_gaps_s"] >= 0
    assert "fr_funnel_step_agg: min=" in capsys.readouterr().out
    plan = (tmp_path / "plans" / "fr_funnel_step_agg.txt").read_text()
    assert "Physical Plan" in plan


def test_query_reads_only_the_registered_pattern(spark, tmp_path):
    """A dataset registered with a ``pattern`` answers over the files that
    pattern matched, not every parquet file under its basepath. A glob
    that matched nothing registers (and queries) the whole basepath. A
    catalog entry written before part files were recorded still reads
    only its pattern's files, and one written before ``pattern`` was
    recorded still loads and reads every file, as before."""
    import shutil

    import pyarrow.parquet as pq

    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(SF_EVENTS, data / "events.parquet")
    pq.write_table(pq.read_table(SF_EVENTS).slice(0, 700),
                   data / "other.parquet")

    catalog = tmp_path / "cat"
    app = create_app(spark=spark, catalog_dir=str(catalog))
    app.config["TESTING"] = True
    with app.test_client() as c:
        for name, pattern in (("one", "events.parquet"),
                              ("all", "*.parquet"),
                              ("nomatch", "nothing*.parquet")):
            r = c.post("/datasets/register", json={
                "name": name, "basepath": str(data), "pattern": pattern,
                "group_id_column": "user_id", "timestamp_column": "ts"})
            assert r.status_code == 200, r.get_data(as_text=True)

        def rows(name):
            r = c.get(f"/datasets/{name}/empty-query")
            assert r.status_code == 200, r.get_data(as_text=True)
            return r.get_json()["query"]["matchingGroupRows"]

        assert rows("one") == 1000
        assert [p["name"] for p in
                c.get("/datasets/one/parts").get_json()["parts"]] == \
            ["events.parquet"]
        assert rows("all") == 1700
        assert rows("nomatch") == 1700

        entry = json.loads((catalog / "one.json").read_text())
        assert entry["pattern"] == "events.parquet"
        # an entry written before part files and schema were recorded
        # (and with a since-removed profile key) still reads, lists and
        # is listed with only what its pattern matches
        for key in ("files", "schema"):
            del entry[key]
        (catalog / "patterned.json").write_text(
            json.dumps({**entry, "name": "patterned", "max_group_rows": 30}))
        assert rows("patterned") == 1000
        assert [p["name"] for p in
                c.get("/datasets/patterned/parts").get_json()["parts"]] == \
            ["events.parquet"]
        assert "patterned" in [d["name"] for d in
                               c.get("/datasets").get_json()]
        # an entry older still has no pattern either
        del entry["pattern"]
        (catalog / "old.json").write_text(json.dumps(entry))
        assert rows("old") == 1700


def test_query_reads_only_the_registered_parts(spark, tmp_path):
    """Queries and ``/parts`` see the part files registration recorded:
    a parquet file copied into the basepath afterwards is neither read
    nor listed until the dataset is registered again, and names match
    exactly (a comma in a name is not a glob separator). A recorded part
    that is deleted is named under ``missingParts``, and a query then
    answers HTTP 400 saying to register again."""
    import shutil

    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(SF_EVENTS, data / "events.parquet")
    app = create_app(spark=spark, catalog_dir=str(tmp_path / "cat"))
    app.config["TESTING"] = True
    body = {"name": "ev", "basepath": str(data),
            "group_id_column": "user_id", "timestamp_column": "ts"}
    with app.test_client() as c:
        def rows_and_parts():
            r = c.get("/datasets/ev/empty-query")
            assert r.status_code == 200, r.get_data(as_text=True)
            parts = c.get("/datasets/ev/parts").get_json()["parts"]
            return (r.get_json()["query"]["matchingGroupRows"],
                    [p["name"] for p in parts])

        assert c.post("/datasets/register", json=body).status_code == 200
        shutil.copy(SF_EVENTS, data / "late,1.parquet")
        assert rows_and_parts() == (1000, ["events.parquet"])

        assert c.post("/datasets/register", json=body).status_code == 200
        assert rows_and_parts() == (2000,
                                    ["events.parquet", "late,1.parquet"])

        (data / "events.parquet").unlink()
        r = c.get("/datasets/ev/parts")
        assert r.status_code == 200, r.get_data(as_text=True)
        listed = r.get_json()
        assert [p["name"] for p in listed["parts"]] == ["late,1.parquet"]
        assert listed["missingParts"] == ["events.parquet"]
        r = c.get("/datasets/ev/empty-query")
        assert r.status_code == 400, r.get_data(as_text=True)
        msg = r.get_json()["errorMessage"]
        assert "events.parquet" in msg and "register it again" in msg


def test_missing_file_while_querying_is_not_an_unregistered_dataset(
        spark, tmp_path, monkeypatch):
    """Only a missing catalog entry answers HTTP 404 "dataset not
    registered": a ``FileNotFoundError`` raised while a registered
    dataset's query runs surfaces as a server error."""
    from funnel_rocket_spark.engine import QueryEngine

    app = create_app(spark=spark, catalog_dir=str(tmp_path / "cat"))
    with app.test_client() as c:
        assert c.post("/datasets/register", json={
            "name": "ev", "basepath": SF_EVENTS,
            "group_id_column": "user_id",
            "timestamp_column": "ts"}).status_code == 200

        def lost_file(*args, **kwargs):
            raise FileNotFoundError("a shuffle file is gone")

        monkeypatch.setattr(QueryEngine, "run", lost_file)
        r = c.get("/datasets/ev/empty-query")
        assert r.status_code == 500
        assert "not registered" not in r.get_data(as_text=True)
        r = c.get("/datasets/nope/empty-query")
        assert r.status_code == 404
        assert r.get_json()["errorMessage"] == "dataset not registered"


def test_prepare_query_starts_no_spark_job(spark, tmp_path):
    """Loading a registered dataset and validating a query against it is
    driver-only work: the recorded schema replaces the schema-inference
    job and the recorded part names filter the driver's listing, for a
    single-file basepath, a directory of one part and a directory of
    more parts than Spark lists on the driver when given as explicit
    paths (``spark.sql.sources.parallelPartitionDiscovery.threshold``,
    32)."""
    import shutil

    import pyarrow.parquet as pq

    from funnel_rocket_spark.catalog import prepare_query, register_dataset
    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(SF_EVENTS, data / "events.parquet")
    many = tmp_path / "many"
    many.mkdir()
    table = pq.read_table(SF_EVENTS)
    for i in range(40):
        pq.write_table(table.slice(i * 25, 25), many / f"part-{i:02d}.parquet")
    catalog = str(tmp_path / "cat")
    register_dataset(spark, "dir", str(data), "user_id", "ts",
                     catalog_dir=catalog)
    register_dataset(spark, "file", SF_EVENTS, "user_id", "ts",
                     catalog_dir=catalog)
    register_dataset(spark, "many", str(many), "user_id", "ts",
                     catalog_dir=catalog)
    answers = {}
    for name in ("dir", "file", "many"):
        with JobGroupMetrics(spark, f"prepare {name}") as jg:
            run = prepare_query(spark, catalog, name, _STATS_QUERY)
        assert jg.snapshot()["invoker"]["jobs"] == 0, name
        answers[name] = run()["query"]
        assert answers[name]["matchingGroups"] > 0
    assert answers["many"] == answers["dir"] == answers["file"]


def test_entry_is_listed_and_served_by_its_file_name(spark, tmp_path):
    """An entry file copied to ``<new>.json`` is its own dataset named
    ``<new>``, whatever ``name`` the file holds: ``/datasets`` lists both
    names, each answers its queries (with the same scanned rows), and
    unregistering one leaves the other serving."""
    import shutil

    catalog = tmp_path / "cat"
    app = create_app(spark=spark, catalog_dir=str(catalog))
    app.config["TESTING"] = True
    with app.test_client() as c:
        assert c.post("/datasets/register", json={
            "name": "one", "basepath": SF_EVENTS,
            "group_id_column": "user_id",
            "timestamp_column": "ts"}).status_code == 200
        shutil.copy(catalog / "one.json", catalog / "patterned.json")
        assert [d["name"] for d in c.get("/datasets").get_json()] == \
            ["one", "patterned"]

        def answer(name):
            r = c.post(f"/datasets/{name}/query", json=_STATS_QUERY)
            assert r.status_code == 200, r.get_data(as_text=True)
            body = r.get_json()
            return body["query"], body["stats"]["worker"]["scannedRows"]

        assert answer("one") == answer("patterned")
        assert answer("one")[1] >= 1000
        assert c.post("/datasets/one/unregister?force=true").status_code \
            == 200
        assert [d["name"] for d in c.get("/datasets").get_json()] == \
            ["patterned"]
        assert answer("patterned")[0]["matchingGroups"] > 0
        assert c.get("/datasets/one/empty-query").status_code == 404
        c.post("/datasets/patterned/unregister?force=true")


def _prom_samples(client, series: str) -> float:
    for line in client.get("/metrics").get_data(as_text=True).splitlines():
        if line.startswith(series + " "):
            return float(line.split()[-1])
    return 0.0


def test_stream_and_sync_routes_answer_alike(spark, tmp_path):
    """One path serves both routes: the last ``?stream=true`` line equals
    the plain response for the same query, except its request id and
    timing fields, and every query route adds one sample to
    ``/metrics``."""
    app = create_app(spark=spark, catalog_dir=str(tmp_path / "cat"))
    app.config["TESTING"] = True
    series = ('query_requests_total{dataset="ev",success="true",'
              'type="query"}')
    with app.test_client() as c:
        assert c.post("/datasets/register", json={
            "name": "ev", "basepath": SF_EVENTS,
            "group_id_column": "user_id",
            "timestamp_column": "ts"}).status_code == 200

        def counted(call) -> str:
            before = _prom_samples(c, series)
            r = call()
            assert r.status_code == 200
            body = r.get_data(as_text=True)  # runs a stream to its end
            assert _prom_samples(c, series) == before + 1
            return body

        # the first request builds the dataset's in-memory copy (more
        # jobs, datasetCache "built"); the compared pair both read it
        counted(lambda: c.get("/datasets/ev/empty-query"))
        counted(lambda: c.get("/datasets/ev/empty-query?stream=true"))
        sync = json.loads(counted(lambda: c.post("/datasets/ev/query",
                                                 json=_STATS_QUERY)))
        stream = counted(lambda: c.post("/datasets/ev/query?stream=true",
                                        json=_STATS_QUERY))
        final = json.loads(stream.splitlines()[-1])

    assert final["requestId"] != sync["requestId"]
    sync_stats, final_stats = sync.pop("stats"), final.pop("stats")
    del sync["requestId"], final["requestId"]
    assert final == sync and final["success"] is True
    assert final_stats.keys() == sync_stats.keys()
    for key in ("engine", "strategies", "usedColumns", "dataset"):
        assert final_stats[key] == sync_stats[key], key
    assert final_stats["invoker"]["jobs"] == sync_stats["invoker"]["jobs"]
    assert (final_stats["worker"]["scannedRows"]
            == sync_stats["worker"]["scannedRows"])
