"""Answer checks and the statistics the benchmark reports.

Kept free of Spark and DuckDB imports so the unit tests run without a JVM.
"""

from __future__ import annotations

import math
from typing import Optional

# --------------------------------------------------------------------------- #
# order-insensitive frame comparison — the rule tests/test_oracle_parity.py
# applies (columns sorted by name, rows sorted by every column, floats equal
# within 1e-9 relative or absolute)


def values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(fa) and math.isnan(fb):
            return True
        return math.isclose(fa, fb, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def frame_mismatch(got, want) -> Optional[str]:
    """None when two pandas frames hold the same rows in any order, else a
    one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col], w[col])):
            if not values_equal(x, y):
                return f"col {col} row {i}: {x!r} != {y!r}"
    return None


# --------------------------------------------------------------------------- #
# engine answers: the API's JSON result against the oracle's expected block


def _agg_mismatch(got: Optional[list], want: Optional[list],
                  where: str) -> Optional[str]:
    if (got is None) != (want is None):
        return f"{where}: aggregations {got!r} != {want!r}"
    if want is None:
        return None
    if len(got) != len(want):
        return f"{where}: {len(got)} aggregations != {len(want)}"
    for g, w in zip(got, want):
        gv, wv = g.get("value"), w["value"]
        if isinstance(wv, dict):
            if not isinstance(gv, dict) or set(gv) != set(wv):
                return f"{where}/{w['type']}: keys {gv!r} != {wv!r}"
            bad = [k for k in wv if not values_equal(gv[k], wv[k])]
            if bad:
                k = bad[0]
                return f"{where}/{w['type']}[{k}]: {gv[k]!r} != {wv[k]!r}"
        elif not values_equal(gv, wv):
            return f"{where}/{w['type']}: {gv!r} != {wv!r}"
    return None


def result_mismatch(got: dict, want: dict) -> Optional[str]:
    """Compare the engine's result JSON with an expected result of the same
    shape: ``matchingGroups``, ``matchingGroupRows``, aggregation maps, and
    per-step funnel counts and aggregations. None when they agree."""
    gq, wq = got.get("query") or {}, want["query"]
    for k in ("matchingGroups", "matchingGroupRows"):
        if gq.get(k) != wq[k]:
            return f"query.{k}: {gq.get(k)!r} != {wq[k]!r}"
    bad = _agg_mismatch(gq.get("aggregations"), wq.get("aggregations"),
                        "query")
    if bad:
        return bad
    wf, gf = want.get("funnel"), got.get("funnel")
    if wf is None:
        return None if gf is None else "unexpected funnel block"
    if gf is None or len(gf.get("sequence") or []) != len(wf["sequence"]):
        return f"funnel steps {gf!r} != {len(wf['sequence'])} steps"
    for i, (gs, ws) in enumerate(zip(gf["sequence"], wf["sequence"])):
        for k in ("matchingGroups", "matchingGroupRows"):
            if gs.get(k) != ws[k]:
                return f"funnel step {i} {k}: {gs.get(k)!r} != {ws[k]!r}"
        bad = _agg_mismatch(gs.get("aggregations"), ws.get("aggregations"),
                            f"funnel step {i}")
        if bad:
            return bad
    return _agg_mismatch(gf.get("endAggregations"),
                         wf.get("endAggregations"), "funnel end")


# --------------------------------------------------------------------------- #
# statistics


def percentile(samples: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``q``
    percent of samples at or below it."""
    if not samples:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    s = sorted(samples)
    return s[max(math.ceil(q / 100.0 * len(s)), 1) - 1]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie strictly above the nearest-rank
    ``q``-th percentile (its rank is ceil(q/100 * n))."""
    return n - max(math.ceil(q / 100.0 * n), 1) if n else 0


def tail_percentile(samples: list[float], beyond: int = 10,
                    candidates=(99, 95, 90, 75)) -> Optional[dict]:
    """The highest candidate percentile with at least ``beyond`` samples
    above it, as ``{"q", "value"}``; None when no candidate qualifies."""
    for q in candidates:
        if samples_beyond(len(samples), q) >= beyond:
            return {"q": q, "value": percentile(samples, q)}
    return None


class Tally:
    """Attempt and failure accounting for one run. A failure is an
    exception, an HTTP status other than 200, or a wrong answer; each is
    named by query so a non-zero failure count says which queries failed."""

    def __init__(self):
        self.attempted = 0
        self.failed: dict[str, list[str]] = {}

    def record(self, name: str, error: Optional[str]) -> bool:
        self.attempted += 1
        if error is not None:
            self.failed.setdefault(name, []).append(error)
        return error is None

    @property
    def n_failed(self) -> int:
        return sum(len(v) for v in self.failed.values())

    @property
    def n_correct(self) -> int:
        return self.attempted - self.n_failed

    @property
    def failed_share(self) -> float:
        return self.n_failed / self.attempted if self.attempted else 0.0

    def summary(self) -> dict:
        return {"attempted": self.attempted, "failed": self.n_failed,
                "failed_share": self.failed_share,
                "failing_queries": {k: v[0] for k, v in
                                    sorted(self.failed.items())}}
