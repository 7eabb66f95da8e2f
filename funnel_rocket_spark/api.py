"""HTTP API server — route parity with the reference's Flask apiserver
(``/root/reference/frocket/apiserver.py:175-247``):

    POST /datasets/register              {name, basepath, group_id_column,
                                          timestamp_column}
    POST /datasets/<name>/unregister
    GET  /datasets
    GET  /datasets/<name>/schema
    POST /datasets/<name>/query          body = query JSON
    GET  /datasets/<name>/empty-query

``?stream=true`` on query routes streams NDJSON progress lines followed by
the result — the reference's chunked-progress behavior (``apiserver.py:
125-172``), with Spark's StatusTracker supplying stage progress in place of
Lambda task polling.

Every query route takes one path from the registered dataset to the
result: ``catalog.prepare_query`` reads the entry, marks it used and
validates the query on the request thread (so an invalid query is an
HTTP 400 on both routes), then the query runs on the server's one shared
``SparkSession`` — on the request thread, or on a worker thread while the
stream route reports progress. Planning writes no session conf (the
sorted-layout scan flag is set once by ``session.get_spark``), so
concurrent requests need no per-request session. Each request tags its
jobs with its own ``spark.scheduler.pool`` local property (thread-local
under PySpark's pinned-thread mode): under ``spark.scheduler.mode=FAIR``
(``get_spark(fair_scheduler=True)``, opt-in env ``FUNNEL_ROCKET_FAIR=1``
in ``main``) Spark then shares cores fairly across in-flight queries
instead of FIFO-starving short queries behind a whale — the serving
shape the reference gets from per-request Lambda fan-out
(``apiserver.py`` + invoker). Throughput/fairness evidence:
``tools/scale_check.py concurrent`` (tools/rung_concurrent_r12.json).
"""

from __future__ import annotations

import fnmatch
import json
import os
import threading
import time
from typing import Optional

from flask import Flask, Response, jsonify, request, stream_with_context

from funnel_rocket_spark.catalog import (
    DatasetInUseError,
    DatasetValidationError,
    load_dataset,
    prepare_query,
    register_dataset,
    unregister_dataset,
)
from funnel_rocket_spark.engine.prom import CONTENT_TYPE as PROM_CONTENT_TYPE
from funnel_rocket_spark.engine.prom import PromRegistry
from funnel_rocket_spark.session import get_spark
from funnel_rocket_spark.validation import QueryValidationError


def pool_for_request(request_id: str, tier: Optional[str]) -> str:
    """Scheduler pool for a query request. A client-declared priority
    tier (``X-Query-Pool`` header) wins — tiers declared via
    ``get_spark(fair_pools={...})`` carry configured weight/minShare and
    are internally FAIR, so same-tier requests still share cores fairly
    rather than FIFO-queueing behind each other; an undeclared tier name
    still works (Spark creates the pool on demand at weight 1).
    Otherwise each request gets its own equal-weight pool. The tier name
    is sanitized to a conservative charset — it lands in a Spark local
    property and in metrics labels, never anywhere shell- or
    path-interpreted."""
    if tier:
        import re

        tier = re.sub(r"[^A-Za-z0-9_.-]", "", tier)[:64]
        if tier:
            return tier
    return f"frs-{request_id}"


def create_app(spark=None, catalog_dir: Optional[str] = None,
               max_inflight: Optional[int] = None) -> Flask:
    """``max_inflight`` bounds concurrently-executing queries (admission
    control): request N+1 gets an immediate HTTP 429 with ``kind:
    "overloaded"`` and a ``Retry-After`` hint instead of queueing — a
    FAIR scheduler shares cores fairly among admitted queries, but
    admitting unboundedly many still divides the machine into slices too
    small to finish (the serving rung measured median latency inflation
    4.66× at just 8-way on 32 cores). Defaults to
    ``FUNNEL_ROCKET_MAX_INFLIGHT`` (unset = unbounded, the historical
    behavior). Registration/metadata routes are never gated."""
    app = Flask("funnel-rocket-spark")
    app.config["CATALOG_DIR"] = catalog_dir or os.environ.get(
        "FUNNEL_ROCKET_CATALOG", os.path.expanduser("~/.funnel_rocket_spark"))
    if max_inflight is None:
        env_max = os.environ.get("FUNNEL_ROCKET_MAX_INFLIGHT")
        max_inflight = int(env_max) if env_max else None
    _gate = (threading.BoundedSemaphore(max_inflight)
             if max_inflight else None)
    app.config["QUERY_GATE"] = _gate  # exposed for tests/operability
    _spark = spark or get_spark(app_name="funnel-rocket-spark-api")
    sc = _spark.sparkContext
    # Prometheus registry, one per server process — the reference's
    # invoker owns its registry the same way (prom_adapter.py:28-29).
    _prom = PromRegistry()

    def _dataset(name: str):
        return load_dataset(app.config["CATALOG_DIR"], name)

    @app.errorhandler(QueryValidationError)
    def on_validation_error(e):
        return jsonify({"success": False, "errorMessage": str(e),
                        "kind": getattr(e, "kind", "schema")}), 400

    @app.errorhandler(DatasetValidationError)
    def on_dataset_error(e):
        return jsonify({"success": False, "errorMessage": str(e)}), 400

    @app.errorhandler(FileNotFoundError)
    def on_missing(e):
        return jsonify({"success": False,
                        "errorMessage": "dataset not registered"}), 404

    @app.route("/datasets/register", methods=["POST"])
    def register():
        body = request.get_json(force=True)
        if not isinstance(body, dict):
            return jsonify({"success": False,
                            "errorMessage": "request body must be a JSON "
                                            "object"}), 400
        missing = [k for k in ("name", "group_id_column",
                               "timestamp_column") if k not in body]
        if missing:
            # a KeyError here would surface as a Flask 500 HTML page —
            # malformed input must keep the JSON 400 contract
            return jsonify({"success": False,
                            "errorMessage": "missing required field(s): "
                                            + ", ".join(missing)}), 400
        t0 = time.monotonic()
        try:
            ds = register_dataset(
                _spark, body["name"], body.get("basepath"),
                body["group_id_column"], body["timestamp_column"],
                catalog_dir=app.config["CATALOG_DIR"],
                table=body.get("table"),
                pattern=body.get("pattern", "*.parquet"),
                validation_mode=body.get("validation", "full"))
        except Exception:
            _prom.record_query(body.get("name", ""), False,
                               time.monotonic() - t0, job_type="register")
            raise
        _prom.record_query(body["name"], True, time.monotonic() - t0,
                           job_type="register")
        return jsonify({"success": True, "dataset": {
            "name": ds.name, "totalRows": ds.total_rows,
            "totalGroups": ds.total_groups,
            "unsupportedColumns": ds.unsupported_columns}})

    @app.route("/datasets/<name>/unregister", methods=["POST"])
    def unregister(name):
        # Reference semantics (docs/api.md:618-643): recently-queried
        # datasets refuse unregistration unless ?force=true; the response
        # reports datasetFound / datasetLastUsed and never fails on a
        # missing dataset.
        force = request.args.get("force", "false").lower() == "true"
        try:
            info = unregister_dataset(app.config["CATALOG_DIR"], name,
                                      force=force)
        except DatasetInUseError as e:
            return jsonify({"success": False, "errorMessage": str(e)}), 500
        return jsonify({"success": True, **info})

    @app.route("/datasets")
    def list_datasets():
        out = []
        cat = app.config["CATALOG_DIR"]
        if os.path.isdir(cat):
            for fn in sorted(os.listdir(cat)):
                if fn.endswith(".json"):
                    with open(os.path.join(cat, fn)) as fh:
                        meta = json.load(fh)
                    out.append({"name": meta["name"],
                                "basepath": meta["basepath"],
                                "totalRows": meta.get("total_rows")})
        return jsonify(out)

    @app.route("/datasets/<name>/schema")
    def schema(name):
        # ?full=true includes the per-column profile (min/max/top values),
        # matching the reference's short vs full schema forms
        # (apiserver.py:200-205).
        ds = _dataset(name)
        full = request.args.get("full", "false").lower() == "true"
        cols = ds.columns if full else {
            c: {"name": i["name"], "dtype": i["dtype"],
                "coltype": i["coltype"]} for c, i in ds.columns.items()}
        return jsonify({"columns": cols,
                        "unsupportedColumns": ds.unsupported_columns,
                        "groupIdColumn": ds.group_id_column,
                        "timestampColumn": ds.timestamp_column})

    @app.route("/datasets/<name>/parts")
    def parts(name):
        # Reference admin route (apiserver.py:208-213): the dataset's part
        # files + sizes — the files queries read, i.e. those registration
        # recorded; recorded files that are gone are named under
        # ``missingParts`` (queries then fail until the dataset is
        # registered again). Entries without a recorded list (older
        # entries) list the local basepath's files matching the
        # registered pattern; table-backed datasets report the table name
        # only.
        ds = _dataset(name)
        if ds.table:
            return jsonify({"table": ds.table, "totalParts": None,
                            "parts": []})
        base = ds.basepath
        local = base[len("file://"):] if base.startswith("file://") else base
        if ds.files:
            paths = ds.files
        elif os.path.isdir(local):
            paths = [os.path.join(local, fn)
                     for fn in sorted(os.listdir(local))
                     if fnmatch.fnmatch(fn, ds.pattern or "*.parquet")]
        elif os.path.isfile(local):
            paths = [local]
        else:
            paths = []
        missing = [p for p in paths if not os.path.isfile(p)]
        out = [{"name": os.path.basename(p), "size": os.path.getsize(p)}
               for p in paths if p not in missing]
        return jsonify({"basepath": base, "totalParts": len(out),
                        "totalSize": sum(p["size"] for p in out),
                        "parts": out,
                        "missingParts": [os.path.basename(p)
                                         for p in missing]})

    def _request_id() -> str:
        # reference request-id shape: "<unix-seconds>-<8 hex>" (api.md:69)
        import uuid

        return f"{int(time.time())}-{uuid.uuid4().hex[:8]}"

    def _run(name: str, query: dict, should_stream: bool):
        if _gate is not None and not _gate.acquire(blocking=False):
            # shed requests are first-class operability data: alerting on
            # this counter is how an operator learns max_inflight is
            # undersized before users do
            _prom.inc("shed_requests_total", {"dataset": name})
            resp = jsonify({"success": False,
                            "errorMessage": "too many in-flight queries "
                                            f"(max {max_inflight})",
                            "kind": "overloaded"})
            resp.status_code = 429
            resp.headers["Retry-After"] = "1"
            return resp
        _released = []

        def _release():
            # once-guard: the non-stream finally, the stream validation
            # failure path, and the stream generator's finally can't
            # double-release (BoundedSemaphore would raise)
            if _gate is not None and not _released:
                _released.append(True)
                _gate.release()

        try:
            return _run_admitted(name, query, should_stream, _release)
        except BaseException:
            _release()
            raise

    def _run_admitted(name: str, query: dict, should_stream: bool,
                      _release):
        request_id = _request_id()
        pool = pool_for_request(request_id,
                                request.headers.get("X-Query-Pool"))
        t0 = time.monotonic()
        # Validation runs here, on the request thread, for both routes:
        # an invalid query gets the HTTP 400 QueryValidationError
        # contract (with its "kind" field), never an in-band error tail
        # of a 200 stream — streaming changes how results are delivered,
        # not how validation fails.
        try:
            run = prepare_query(_spark, app.config["CATALOG_DIR"], name,
                                query)
        except (QueryValidationError, DatasetValidationError):
            _prom.record_query(name, False, time.monotonic() - t0)
            raise

        def execute() -> dict:
            # the scheduler-pool property is thread-local: set it on the
            # thread that runs the query
            sc.setLocalProperty("spark.scheduler.pool", pool)
            try:
                result = run(with_stats=True)
            except Exception:
                _prom.record_query(name, False, time.monotonic() - t0)
                raise
            finally:
                sc.setLocalProperty("spark.scheduler.pool", None)
            _prom.record_query(name, True, time.monotonic() - t0,
                               result.get("stats"))
            return {**result, "success": True, "requestId": request_id}

        if not should_stream:
            result = execute()
            _release()
            return jsonify(result)

        def generate():
            # the admission slot is held for the GENERATOR's lifetime —
            # the query executes while the client consumes progress
            # lines; a dropped connection closes the generator and the
            # finally still frees the slot
            try:
                yield from _generate()
            finally:
                _release()

        def _generate():
            holder: dict = {}

            def work():
                try:
                    holder["result"] = execute()
                except Exception as e:  # surfaced in the stream tail
                    holder["error"] = str(e)

            t = threading.Thread(target=work, daemon=True)
            t.start()
            tracker = sc.statusTracker()
            while t.is_alive():
                stages = tracker.getActiveStageIds()
                yield json.dumps({"stage": "running",
                                  "activeSparkStages": len(stages)}) + "\n"
                t.join(timeout=0.25)
            if "error" in holder:
                yield json.dumps({"success": False,
                                  "errorMessage": holder["error"]}) + "\n"
            else:
                yield json.dumps(holder["result"]) + "\n"

        return Response(stream_with_context(generate()),
                        mimetype="application/x-ndjson")

    @app.route("/datasets/<name>/query", methods=["POST"])
    def query(name):
        body = request.get_json(force=True)
        should_stream = request.args.get("stream", "false").lower() == "true"
        return _run(name, body, should_stream)

    @app.route("/datasets/<name>/empty-query")
    def empty_query(name):
        should_stream = request.args.get("stream", "false").lower() == "true"
        return _run(name, {}, should_stream)

    @app.route("/metrics")
    def metrics():
        # Prometheus scrape endpoint — parity with the reference's
        # metrics.export.prometheus mode (prom_adapter.py + config.py:64):
        # per-query counters and unit-bucketed histograms, labeled by
        # dataset / success / job type.
        return Response(_prom.exposition(), content_type=PROM_CONTENT_TYPE)

    return app


def main() -> None:  # pragma: no cover - manual entry point
    # FUNNEL_ROCKET_FAIR=1 starts the context in FAIR scheduler mode so
    # the per-request pools actually share cores (context-level conf —
    # must be chosen before the first session exists)
    fair = os.environ.get("FUNNEL_ROCKET_FAIR", "0") == "1"
    app = create_app(spark=get_spark(app_name="funnel-rocket-spark-api",
                                     fair_scheduler=fair))
    app.run(host=os.environ.get("API_HOST", "127.0.0.1"),
            port=int(os.environ.get("API_PORT", "5000")), threaded=True)


if __name__ == "__main__":
    main()
