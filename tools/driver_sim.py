"""Simulate the driver's correctness gate locally: run the first N entries of
__spark_entry__.queries() against their DuckDB oracles at a given sf_dir and
report rows/schema matches plus the worst per-column float deviation (the
driver hashes values, so anything beyond tiny formatting noise is a risk).

Usage: python tools/driver_sim.py [sf_dir] [first_n]
"""

import argparse
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from funnel_rocket_spark.session import get_spark

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(df):
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01",
                    help="directory of the <table>.parquet inputs")
    ap.add_argument("first_n", nargs="?", type=int, default=50,
                    help="how many catalog queries to run, in order")
    args = ap.parse_args(argv)
    sf_dir, first_n = args.sf_dir, args.first_n
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    spark = get_spark()
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    bad = []
    for name in list(qs)[:first_n]:
        try:
            got = qs[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: SPARK ERROR {exc}")
            bad.append(name)
            continue
        if name not in oracles:
            print(f"{name}: rows-only ({len(got)} rows)")
            continue
        try:
            want = con.sql(oracles[name]).df()
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ORACLE ERROR {exc}")
            bad.append(name)
            continue
        if sorted(got.columns) != sorted(want.columns):
            print(f"{name}: SCHEMA {list(got.columns)} vs {list(want.columns)}")
            bad.append(name)
            continue
        if len(got) != len(want):
            print(f"{name}: ROWS {len(got)} vs {len(want)}")
            bad.append(name)
            continue
        g, w = normalize(got), normalize(want)
        worst = 0.0
        exact = True
        for col in g.columns:
            for x, y in zip(g[col], w[col]):
                if isinstance(x, float) or isinstance(y, float):
                    fx, fy = float(x), float(y)
                    if math.isnan(fx) and math.isnan(fy):
                        continue
                    d = abs(fx - fy)
                    if d > 0:
                        exact = False
                        worst = max(worst, d)
                elif x != y:
                    exact = False
                    worst = max(worst, float("inf"))
        tag = "OK exact" if exact else f"FLOAT-DRIFT max={worst:.3e}"
        if not exact and worst > 1e-9:
            bad.append(name)
        print(f"{name}: {len(got)} rows, {tag}")
    print(f"\n{len(bad)} risky: {bad}")


if __name__ == "__main__":
    main()
