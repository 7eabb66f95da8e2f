"""Prometheus metrics export — parity with the reference's OpenMetrics
adapter (``/root/reference/frocket/invoker/prom_adapter.py:28-72``, driven
by ``common/metrics.py``): COUNT-unit metrics become Counters, everything
else becomes a Histogram whose buckets are configured per unit, and every
series carries ``dataset`` / ``success`` / ``type`` labels.

The sandbox has no ``prometheus_client`` wheel, so the exposition text
format (the stable v0.0.4 wire format every Prometheus scraper speaks) is
emitted directly — it is a dozen lines of formatting, and owning it keeps
the API server dependency-light. Semantics match the official client:
histograms emit cumulative ``_bucket`` series with an ``+Inf`` bound plus
``_sum``/``_count``, counters end in ``_total``.

Registry state is in-process per API server, exactly like the reference's
(its Lambda workers shipped metrics back to the invoker process, which
owned the Prometheus registry; here the Spark driver IS that process).
"""

from __future__ import annotations

import threading
from typing import Dict, List, Tuple

# Per-unit histogram buckets — the reference's defaults
# (frocket/common/config.py:66-71), overridable per instance.
DEFAULT_BUCKETS: Dict[str, List[float]] = {
    "seconds": [0.05, 0.1, 0.5, 1, 2, 5, 10, 15],
    "dollars": [0.01, 0.05, 0.1, 0.5, 1, 2],
    "bytes": [1 << 20, 16 << 20, 64 << 20, 128 << 20, 256 << 20],
    "rows": [100, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 5e8],
    "groups": [100, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8, 5e8],
    "default": [0.1, 0.5, 1, 5, 25, 100, 1000],
}

LabelSet = Tuple[Tuple[str, str], ...]


def _labels(labels: Dict[str, str]) -> LabelSet:
    return tuple(sorted((k, str(v)) for k, v in labels.items()))


def _escape(v: str) -> str:
    # Prometheus label-value escaping: backslash, double-quote, newline.
    # Dataset names are user input — an unescaped quote would corrupt the
    # whole scrape body.
    return v.replace("\\", r"\\").replace('"', r"\"").replace("\n", r"\n")


def _fmt_labels(ls: LabelSet, extra: str = "") -> str:
    parts = [f'{k}="{_escape(v)}"' for k, v in ls]
    if extra:
        parts.append(extra)
    return "{" + ",".join(parts) + "}" if parts else ""


def _fmt_value(v: float) -> str:
    return str(int(v)) if float(v).is_integer() else repr(float(v))


class PromRegistry:
    """Counters + histograms with Prometheus text exposition.

    Metric unit is inferred from the name suffix exactly like the
    reference (``MeasuredUnit.unitof``): ``*_seconds`` picks the seconds
    buckets, ``*_bytes`` the bytes buckets, and so on.
    """

    def __init__(self, buckets: Dict[str, List[float]] = None):
        self._buckets_cfg = {**DEFAULT_BUCKETS, **(buckets or {})}
        self._lock = threading.Lock()
        self._counters: Dict[str, Dict[LabelSet, float]] = {}
        self._hist: Dict[str, Dict[LabelSet, dict]] = {}

    def _buckets_for(self, name: str) -> List[float]:
        unit = name.rsplit("_", 1)[-1]
        return list(self._buckets_cfg.get(unit, self._buckets_cfg["default"]))

    def inc(self, name: str, labels: Dict[str, str], value: float = 1.0):
        with self._lock:
            series = self._counters.setdefault(name, {})
            ls = _labels(labels)
            series[ls] = series.get(ls, 0.0) + value

    def observe(self, name: str, labels: Dict[str, str], value: float):
        with self._lock:
            series = self._hist.setdefault(name, {})
            ls = _labels(labels)
            h = series.get(ls)
            if h is None:
                bounds = self._buckets_for(name)
                h = series[ls] = {"bounds": bounds,
                                  "counts": [0] * len(bounds),
                                  "sum": 0.0, "count": 0}
            for i, b in enumerate(h["bounds"]):
                if value <= b:
                    h["counts"][i] += 1
            h["sum"] += value
            h["count"] += 1

    def exposition(self) -> str:
        """Prometheus text format v0.0.4 (one scrape body)."""
        out: List[str] = []
        with self._lock:
            for name in sorted(self._counters):
                out.append(f"# HELP {name} {name}")
                out.append(f"# TYPE {name} counter")
                for ls, v in sorted(self._counters[name].items()):
                    out.append(f"{name}{_fmt_labels(ls)} {_fmt_value(v)}")
            for name in sorted(self._hist):
                out.append(f"# HELP {name} {name}")
                out.append(f"# TYPE {name} histogram")
                for ls, h in sorted(self._hist[name].items()):
                    # counts[] is maintained cumulatively in observe()
                    # (every bound >= value is incremented), matching the
                    # cumulative-bucket exposition contract directly.
                    for b, c in zip(h["bounds"], h["counts"]):
                        le = 'le="%s"' % _fmt_value(b)
                        out.append(f"{name}_bucket{_fmt_labels(ls, le)} {c}")
                    inf = 'le="+Inf"'
                    out.append(f"{name}_bucket{_fmt_labels(ls, inf)} "
                               f"{h['count']}")
                    out.append(f"{name}_sum{_fmt_labels(ls)} "
                               f"{_fmt_value(round(h['sum'], 6))}")
                    out.append(f"{name}_count{_fmt_labels(ls)} {h['count']}")
        return "\n".join(out) + "\n"

    # ---- engine-facing convenience -------------------------------------

    def record_query(self, dataset: str, success: bool, seconds: float,
                     stats: dict = None, job_type: str = "query"):
        """Fold one query's wall time + engine stats block into the
        registry — the metric names mirror the reference's MetricName
        enum (``common/metrics.py:126-152``: invoker_total_seconds,
        scanned_rows, cost_dollars, task_total_run_seconds) plus
        Spark-native additions (scanned_bytes, failed_tasks_total,
        dataset_cache_builds_total: queries that materialized their
        dataset's in-memory copy, per dataset)."""
        labels = {"dataset": dataset, "success": str(bool(success)).lower(),
                  "type": job_type}
        self.inc("query_requests_total", labels)
        self.observe("invoker_total_seconds", labels, seconds)
        if not stats:
            return
        w = stats.get("worker", {})
        inv = stats.get("invoker", {})
        if w.get("scannedRows") is not None:
            self.observe("scanned_rows", labels, w["scannedRows"])
        if w.get("scannedBytes"):
            self.observe("scanned_bytes", labels, w["scannedBytes"])
        if w.get("executorRunSeconds") is not None:
            self.observe("task_total_run_seconds", labels,
                         w["executorRunSeconds"])
        if inv.get("failedTasks"):
            self.inc("failed_tasks_total", labels, inv["failedTasks"])
        if (stats.get("strategies") or {}).get("datasetCache") == "built":
            self.inc("dataset_cache_builds_total", {"dataset": dataset})
        if stats.get("cost") is not None:
            self.observe("cost_dollars", labels, stats["cost"])


CONTENT_TYPE = "text/plain; version=0.0.4; charset=utf-8"
