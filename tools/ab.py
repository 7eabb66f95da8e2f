"""Interleaved A/B harness: candidate vs control in ONE Spark session,
alternating runs (ABAB...), min-of-N each — the only measurement that
ambient host drift cannot fool (see OPTIMIZATION_r12.md's measurement
honesty note).

Usage:
    python tools/ab.py --env spark.sql.adaptive.coalescePartitions.enabled \
        --a true --b false --runs 3 query [query ...]

--env names the toggle: a runtime Spark SQL conf (``spark.*``) or an
environment variable the queries read. --a/--b are its values (empty
string = unset). Variant A is the CANDIDATE (new behavior), B the
CONTROL.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from funnel_rocket_spark import benchqueries
from funnel_rocket_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--env", required=True)
    ap.add_argument("--a", default="", help="candidate env value")
    ap.add_argument("--b", default="", help="control env value")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR",
                                                   "/root/testdata/sf0.1"))
    args = ap.parse_args()

    spark = get_spark(app_name="frs-ab")
    spark.sparkContext.setLogLevel("ERROR")
    all_q = benchqueries.queries()
    all_q.update(getattr(benchqueries, "BENCH_VARIANTS", {}))

    def set_env(v: str) -> None:
        if args.env.startswith("spark."):  # runtime SQLConf toggle
            if v == "":
                spark.conf.unset(args.env)
            else:
                spark.conf.set(args.env, v)
        elif v == "":
            os.environ.pop(args.env, None)
        else:
            os.environ[args.env] = v

    try:
        all_q["fr_empty_query"](spark, args.sf).collect()
    except Exception:
        pass

    tot = {"A": 0.0, "B": 0.0}
    for name in args.queries:
        fn = all_q[name]
        times = {"A": [], "B": []}
        for _ in range(args.runs):
            for label, val in (("A", args.a), ("B", args.b)):
                set_env(val)
                t0 = time.perf_counter()
                rows = fn(spark, args.sf).collect()
                _ = len(rows)
                times[label].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
                spark.sparkContext._jvm.System.gc()
        a, b = min(times["A"]), min(times["B"])
        tot["A"] += a
        tot["B"] += b
        verdict = "WIN" if a < b * 0.97 else ("LOSS" if a > b * 1.03
                                              else "tie")
        print(f"{name}: A={a:.3f}s B={b:.3f}s  A/B={a/b:.3f}  {verdict}",
              flush=True)
    print(f"TOTAL: A={tot['A']:.3f}s B={tot['B']:.3f}s "
          f"A/B={tot['A']/tot['B']:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
