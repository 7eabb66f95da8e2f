"""Physical-plan inspection helpers.

Plan shape is a correctness property at 100 TB: a funnel query that reads all
columns, fails to push its timeframe to Parquet, or shuffles twice per
condition will "work" at sf0.1 and fall over at scale. These helpers let
tests (see ``tests/test_plans.py``) pin the invariants:

* scans read ONLY the used columns (``ReadSchema``)
* timeframe predicates reach the Parquet reader (``PushedFilters``)
* condition evaluation costs exactly one exchange on the group key
* window-based sequences don't add exchanges beyond that one
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across the plan's parquet scans."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        entry = m.group(1).strip()
        if entry:
            out.extend(p.strip() for p in entry.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists read by each parquet scan (from ReadSchema)."""
    plan = formatted_plan(df)
    schemas = []
    for m in re.finditer(r"ReadSchema: struct<(.*?)>", plan):
        fields = m.group(1)
        schemas.append([f.split(":")[0].strip() for f in fields.split(",") if f])
    return schemas


def _query_operators(df: DataFrame, name: str) -> int:
    """Number of ``name`` operators the query itself runs. Formatted
    mode lists each node twice (tree + "(N) Name" detail header); count
    the numbered detail headers only. The plan that builds a cached
    frame the query reads (the subtree under an ``InMemoryRelation``)
    runs once for all the queries that read the frame, so its operators
    are not counted."""
    plan = formatted_plan(df)
    built, column = set(), None
    for line in plan.split("\n\n", 1)[0].splitlines():
        start = re.search(r"[\w=]", line)
        if start is None:
            continue
        if column is not None and start.start() > column:
            built.update(re.findall(r"\((\d+)\)", line))
            continue
        column = (start.start() if line[start.start():]
                  .startswith("InMemoryRelation") else None)
    return sum(1 for n in re.findall(rf"\((\d+)\) {name}\b", plan)
               if n not in built)


def count_exchanges(df: DataFrame) -> int:
    """Number of Exchange operators (shuffles) in the physical plan.

    AQE reuse/coalescing can only reduce these at runtime, so this is an
    upper bound — which is exactly what a regression gate wants.
    """
    return _query_operators(df, "Exchange")


def count_sorts(df: DataFrame) -> int:
    """Number of Sort operators in the physical plan.

    The gate for declared-layout reads: a ``bucketBy(group)
    sortBy(group, ts)`` table must satisfy window/groupBy ordering
    straight off the scan — a Sort appearing there means the layout
    declaration was lost (e.g. multi-file buckets) and the query went
    back to paying the whale partition sort at scale."""
    return _query_operators(df, "Sort")
