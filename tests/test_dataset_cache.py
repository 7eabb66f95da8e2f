"""The group-clustered in-memory copy a registered dataset is served from
(``catalog.Dataset.load``): its plan shape, when it is built again or
dropped, and the stats and ``/metrics`` series that report it."""

import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq

from funnel_rocket_spark import benchqueries as bq
from funnel_rocket_spark.api import create_app
from funnel_rocket_spark.catalog import (
    load_dataset,
    prepare_query,
    register_dataset,
    unregister_dataset,
)
from funnel_rocket_spark.engine import QueryEngine
from funnel_rocket_spark.plans import (
    count_exchanges,
    count_sorts,
    formatted_plan,
)

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"
# 100k rows: enough that the copy keeps more than one partition
SF_EVENTS_100K = "/root/testdata/sf0.1/events.parquet"
FUNNEL = {"query": {"aggregations": [{"column": "event_type",
                                      "type": "countPerValue", "top": 5}]},
          "funnel": {"sequence": [{"filter": ["event_type", "==", "view"]},
                                  {"filter": ["event_type", "==",
                                              "purchase"]}]}}


def _register(spark, tmp_path, name: str, source: str = SF_EVENTS):
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(source, data / "events.parquet")
    catalog = str(tmp_path / "cat")
    register_dataset(spark, name, str(data), "user_id", "ts",
                     catalog_dir=catalog)
    return data, catalog


def _query(spark, catalog: str, name: str, query: dict) -> dict:
    return prepare_query(spark, catalog, name, query)(with_stats=True)


def _cache_state(result: dict):
    return result["stats"]["strategies"]["datasetCache"]


def test_second_request_plans_no_group_exchange_or_sort(spark, tmp_path):
    """Once built, the copy is clustered by group and sorted by (group,
    ts): a sequence's window anchors need no exchange and no sort, and
    only the final single-partition reduce remains, as on a
    group-bucketed table (test_bucketed_layout_eliminates_group_shuffle).
    Both requests read the dataset's rows once and answer as an uncached
    run does."""
    data, catalog = _register(spark, tmp_path, "cache_plan", SF_EVENTS_100K)
    rows = pq.read_metadata(SF_EVENTS_100K).num_rows
    try:
        first = _query(spark, catalog, "cache_plan", bq.Q_SEQUENCE)
        second = _query(spark, catalog, "cache_plan", bq.Q_SEQUENCE)
        df = load_dataset(catalog, "cache_plan").load(spark)
        counts = QueryEngine("user_id", "ts").plan(df, bq.Q_SEQUENCE).counts()
        assert count_exchanges(counts) == 1, formatted_plan(counts)
        assert count_sorts(counts) == 0, formatted_plan(counts)

        want = QueryEngine("user_id", "ts").run(
            spark.read.parquet(str(data)), bq.Q_SEQUENCE)
        assert first["query"] == second["query"] == want["query"]
        assert [_cache_state(first), _cache_state(second)] == ["built", "hit"]
        for result in (first, second):
            assert result["stats"]["worker"]["scannedRows"] == rows
            assert result["stats"]["dataset"] == {
                "parts": 1, "totalSize": (data / "events.parquet").stat().st_size}
        assert second["stats"]["worker"]["shuffleWriteBytes"] < \
            first["stats"]["worker"]["shuffleWriteBytes"]
    finally:
        unregister_dataset(catalog, "cache_plan", force=True)


def _views(spark, name: str) -> list[str]:
    """The temp views holding ``name``'s copy."""
    return [t.name for t in spark.catalog.listTables()
            if t.isTemporary and t.name.endswith(f"_{name}")]


def test_part_rewritten_in_place_is_read_again(spark, tmp_path):
    """A part file rewritten with other rows changes the copy's identity
    (size, mtime): the next request builds a new copy from the new rows
    and the old copy is dropped."""
    data, catalog = _register(spark, tmp_path, "cache_rewrite")
    assert _query(spark, catalog, "cache_rewrite",
                  {})["query"]["matchingGroupRows"] == 1000
    old = _views(spark, "cache_rewrite")

    pq.write_table(pq.read_table(SF_EVENTS).slice(0, 700),
                   data / "events.parquet")
    again = _query(spark, catalog, "cache_rewrite", {})
    assert again["query"]["matchingGroupRows"] == 700
    assert _cache_state(again) == "built"
    assert again["stats"]["worker"]["scannedRows"] == 700
    new = _views(spark, "cache_rewrite")
    assert len(old) == len(new) == 1 and old != new
    unregister_dataset(catalog, "cache_rewrite", force=True)
    assert _views(spark, "cache_rewrite") == []


def test_unregister_drops_the_copy(spark, tmp_path):
    _, catalog = _register(spark, tmp_path, "cache_unregister")
    _query(spark, catalog, "cache_unregister", bq.Q_SEQUENCE)
    frame = load_dataset(catalog, "cache_unregister").load(spark)
    assert frame.storageLevel.useMemory
    unregister_dataset(catalog, "cache_unregister", force=True)
    assert not frame.storageLevel.useMemory


def _prom_samples(client, series: str) -> float:
    for line in client.get("/metrics").get_data(as_text=True).splitlines():
        if line.startswith(series + " "):
            return float(line.split()[-1])
    return 0.0


def test_cleared_cache_is_built_again_and_counted(spark, tmp_path):
    """``stats.strategies.datasetCache`` says whether a request built the
    copy or read it, and ``/metrics`` counts the builds per dataset: an
    external ``spark.catalog.clearCache()`` makes the next request build
    it again, with the same answer. A table-backed dataset has no copy
    (null)."""
    data = tmp_path / "data"
    data.mkdir()
    shutil.copy(SF_EVENTS, data / "events.parquet")
    table = "events_cache_state_test"
    spark.read.parquet(SF_EVENTS).write.saveAsTable(table)
    app = create_app(spark=spark, catalog_dir=str(tmp_path / "cat"))
    app.config["TESTING"] = True
    builds = 'dataset_cache_builds_total{dataset="ev"}'
    try:
        with app.test_client() as c:
            for body in ({"name": "ev", "basepath": str(data)},
                         {"name": "tab", "table": table}):
                r = c.post("/datasets/register", json={
                    **body, "group_id_column": "user_id",
                    "timestamp_column": "ts"})
                assert r.status_code == 200, r.get_data(as_text=True)

            states, answers = [], []
            for clear in (False, False, True, False):
                if clear:
                    spark.catalog.clearCache()
                body = c.post("/datasets/ev/query", json=FUNNEL).get_json()
                states.append(_cache_state(body))
                answers.append((body["query"], body["funnel"]))
                assert body["stats"]["worker"]["scannedRows"] == 1000
            assert states == ["built", "hit", "built", "hit"]
            assert all(a == answers[0] for a in answers)
            assert _prom_samples(c, builds) == 2

            body = c.post("/datasets/tab/query", json=FUNNEL).get_json()
            assert _cache_state(body) is None
            assert (body["query"], body["funnel"]) == answers[0]
            assert _prom_samples(
                c, 'dataset_cache_builds_total{dataset="tab"}') == 0
            c.post("/datasets/ev/unregister?force=true")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_concurrent_first_requests_build_one_copy(spark, tmp_path):
    """Four requests arriving before the copy exists share one copy:
    exactly one reports building it, all answer alike and each counts
    the dataset's rows once."""
    _, catalog = _register(spark, tmp_path, "cache_concurrent")
    with ThreadPoolExecutor(4) as pool:
        results = list(pool.map(
            lambda _: _query(spark, catalog, "cache_concurrent",
                             bq.Q_SEQUENCE), range(4)))
    assert sorted(map(_cache_state, results)) == ["built", "hit", "hit",
                                                  "hit"]
    assert all(r["query"] == results[0]["query"] for r in results)
    assert all(r["stats"]["worker"]["scannedRows"] == 1000 for r in results)
    assert len(_views(spark, "cache_concurrent")) == 1
    unregister_dataset(catalog, "cache_concurrent", force=True)
    assert _views(spark, "cache_concurrent") == []
