"""SparkSession factory with scale-appropriate defaults.

Tuned for correctness tests on local[N] but with settings that carry to a real
cluster: AQE on (runtime re-planning, skew-join handling, shuffle coalescing),
Arrow enabled for the few Pandas-UDF paths, and a shuffle-partition count that
AQE coalesces down when partitions are small.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def write_fair_allocation(pools: dict, path: str | None = None) -> str:
    """Write a Spark FAIR allocation XML for named priority tiers and
    return its path. ``pools`` maps pool name → {"weight": int,
    "minShare": int} (either optional). Each tier pool is internally
    FAIR so the requests sharing a tier also share cores fairly, not
    FIFO-queue behind each other. Undeclared pool names still work at
    runtime (Spark creates them on demand with weight 1) — the file
    only exists to give declared tiers more/less than that default.
    """
    import tempfile
    from xml.sax.saxutils import escape

    parts = ["<?xml version=\"1.0\"?>", "<allocations>"]
    for name, spec in pools.items():
        parts.append(f"  <pool name=\"{escape(str(name))}\">")
        parts.append("    <schedulingMode>FAIR</schedulingMode>")
        parts.append(f"    <weight>{int(spec.get('weight', 1))}</weight>")
        parts.append(
            f"    <minShare>{int(spec.get('minShare', 0))}</minShare>")
        parts.append("  </pool>")
    parts.append("</allocations>")
    if path is None:
        fd, path = tempfile.mkstemp(prefix="frs_fair_", suffix=".xml")
        os.close(fd)
    with open(path, "w") as f:
        f.write("\n".join(parts) + "\n")
    return path


def spark_conf(master: str | None = None,
               shuffle_partitions: int | None = None) -> dict:
    """The settings every engine session launches with: ``get_spark``
    applies them and ``cli config`` prints them. Values are JSON types
    (the builder renders booleans as ``true``/``false``)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    partitions = shuffle_partitions or cpus
    return {
        "spark.master": master or f"local[{cpus}]",
        "spark.sql.adaptive.enabled": True,
        "spark.sql.adaptive.coalescePartitions.enabled": True,
        "spark.sql.adaptive.skewJoin.enabled": True,
        "spark.sql.shuffle.partitions": partitions,
        # Fan big shuffles wider than the core count and let AQE coalesce
        # the small ones back down: with a fixed N-partition shuffle, a
        # 50M-row window pass spills (measured 25s → 11s at 256 initial
        # partitions on local[32]); tiny aggregates still collapse to a
        # handful of tasks via coalescePartitions. This is the
        # scale-correct shape: initial partitions sized for the BIGGEST
        # shuffle, AQE right-sizes the rest at runtime.
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
            max(256, 8 * partitions),
        # ...but don't let the coalescer re-create the spill: AQE sizes
        # merged partitions by COMPRESSED shuffle bytes, and a sort-based
        # window inflates those ~5-10× in memory. At the 64m default a
        # 100M-row sequence query coalesced 256 → 34 partitions (~3M rows
        # each) and spilled: 28.8 s; at 16m it kept 128 partitions and ran
        # 10.2 s — back on the linear scaling line from 50M. Small
        # aggregates still coalesce to few tasks (their byte totals are
        # tiny either way).
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
        # Let AQE right-size the partitioning of CACHED plans too (off by
        # default): persisted frames otherwise materialize at the full
        # initialPartitionNum — a bounded candidate/matched frame cached
        # as 256 near-empty partitions costs 256 tiny tasks on every
        # re-read, and an index written from such a frame becomes 256
        # tiny files. Measured on the persist-heavy dedup path:
        # dedup_incremental_lsh steady-state 3.49 s → 2.76 s and its
        # index-build first run 10.7 s → 3.4 s at sf0.1. The documented
        # trade (a downstream consumer of the cache may re-shuffle since
        # the cached partitioning is no longer guaranteed) doesn't bite
        # here: every bounded_persist frame is re-keyed by its consumers
        # anyway.
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": True,
        # Since Spark 3.0 a bucketed scan reports its sortBy order only
        # under this flag — off by default because the plan then depends
        # on the files-per-bucket count (SPARK-28595). Plans stay CORRECT
        # with it on: Spark still reports no ordering for multi-file
        # buckets, and ``sources.write_bucketed`` aligns one file per
        # bucket so that a declared (group, ts) layout reports it and the
        # engine's first Window does not re-sort what the layout ordered.
        "spark.sql.legacy.bucketedTableScan.outputOrdering": True,
        "spark.sql.execution.arrow.pyspark.enabled": True,
        "spark.sql.parquet.filterPushdown": True,
        # Testdata events.parquet uses TIMESTAMP(NANOS), which Spark 4 only
        # reads as int64 under this flag (a numeric ts, like the reference's).
        "spark.sql.legacy.parquet.nanosAsLong": True,
        # NTZ timestamps are interpreted in the session tz when cast; pin to
        # UTC so epoch conversions are machine-independent.
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        # The generated-class cache defaults to 100 entries; a session running
        # the full query catalog compiles several hundred codegen stages, so
        # re-runs of an identical plan recompile instead of hitting the cache
        # (static conf — must be set before the first codegen).
        "spark.sql.codegen.cache.maxEntries": 2000,
        # An external sorter's iterator opens a reader for EVERY spill
        # file up front, and with read-ahead each reader holds two 1 MB
        # heap buffers on top of its 1 MB record buffer. A whale group's
        # sequence pass spills its sort and window buffers into hundreds
        # of files, so those buffers alone can exhaust a small heap:
        # measured on tools/scale_check.py whalespill (40M rows, one
        # 30M-row user, local[4], 1 GB heap) the maxDuration sequence
        # died with "Java heap space" with read-ahead and completed in
        # 84 s without it.
        "spark.unsafe.sorter.spill.read.ahead.enabled": False,
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` below every
        # explode; PushDownPredicates then substitutes the filter through
        # the projections that DERIVE the array, planting the whole
        # tokenize→zip_with shingle chain at the parquet scan as an
        # interpreted predicate (observed: 5 `split` calls per row in one
        # Filter, 28 in one plan) — recomputed on the scan's 1-2 input
        # splits, then computed again above. The rows it would skip are
        # exactly the rows explode already skips (empty arrays), so the
        # inference buys nothing on derived arrays: r12 A/B — sf1-tier
        # dedup_incremental_lsh -0.37 s, decontaminate_ngram -0.31 s;
        # catalog canaries at sf0.1 a wash. Stored-array explodes lose
        # only a rarely-selective scan filter.
        "spark.sql.optimizer.excludedRules":
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        "spark.ui.enabled": False,
    }


def get_spark(
    app_name: str = "funnel-rocket-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    fair_scheduler: bool = False,
    fair_pools: dict | None = None,
) -> SparkSession:
    """A session with :func:`spark_conf`'s settings.

    ``fair_scheduler=True`` starts the context with
    ``spark.scheduler.mode=FAIR`` — the multi-tenant serving shape: each
    concurrent request runs its jobs in its own on-demand scheduler pool
    (``spark.scheduler.pool`` local property, set per request thread by
    the API server), and Spark shares executor cores fairly ACROSS pools
    instead of letting one big query's FIFO jobs starve the short ones
    behind it. This is a context-level (static) setting — it only takes
    effect when this call actually creates the context, so a serving
    process must opt in up front; ``getOrCreate`` on a live context
    ignores it silently."""
    builder = SparkSession.builder.appName(app_name).config(
        map=spark_conf(master, shuffle_partitions))
    if fair_scheduler or fair_pools:
        builder = builder.config("spark.scheduler.mode", "FAIR")
    if fair_pools:
        builder = builder.config("spark.scheduler.allocation.file",
                                 write_fair_allocation(fair_pools))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
