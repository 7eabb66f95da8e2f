"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — exact baseline; broadcast the (small) query set,
  keep the dot product in JVM higher-order functions (zip_with + aggregate).
* LSH-bucketed variant — random-hyperplane sign bits as bucket key; only
  same-bucket pairs are compared. The 100 TB path: the corpus shuffles once
  on the bucket key, each bucket is small, recall tunes with bits/tables.

Hyperplanes are derived deterministically from md5 so results are
reproducible run-to-run without a random seed exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from funnel_rocket_spark.operators.dedup import bounded_persist


def _np_round6(sims):
    """numpy twin of ``_round6``: round-half-away-from-zero to 6 places.
    ``np.round`` is banker's rounding; the expr twins and the DuckDB
    oracles use SQL ``round`` (half away from zero), and a cosine landing
    exactly on a half in the 6th decimal would flip a ``>= threshold``
    verdict between the gemm and expr strategies."""
    import numpy as np

    return np.copysign(np.floor(np.abs(sims) * 1e6 + 0.5), sims) / 1e6


def _unit_rows(m):
    """Row-normalize a 2-D numpy matrix; zero rows stay zero (cosine with
    a zero vector is defined as 0 everywhere in this module)."""
    import numpy as np

    norms = np.sqrt((m * m).sum(axis=1, keepdims=True))
    norms[norms == 0.0] = 1.0
    return m / norms


def _gemm_block(n_cols: int) -> int:
    """Row-block size that bounds a blocked GEMM's live float64 sims
    buffer to ~64 MB against an ``n_cols``-wide broadcast side. No lower
    floor: at the 500k-row index cap a floor of 64 rows would quietly
    quadruple the bound (64 × 500k × 8 B = 256 MB per task)."""
    return max(1, min(4096, 8_000_000 // max(n_cols, 1)))


# dot/norm/cosine accept either Columns or raw SQL FRAGMENTS — the str
# form is a SQL expression, not a column name: a plain identifier must be
# backtick-quoted by the caller (use _qident) if it could contain spaces,
# hyphens, or reserved words. The fragment form renders the whole
# reduction as ONE parsed expression: the Column-API zip_with/aggregate
# lambda chain costs ~20 py4j round-trips per call and a cosine ~55 ms of
# driver socket chatter — an IVF assignment expression over k centers
# paid that k times per plan build. The parsed tree is semantically
# identical (sameSemantics-pinned in tests/test_litexpr.py).

def _qident(name: str) -> str:
    """Backtick-quote a plain column NAME for interpolation into a SQL
    fragment (embedded backticks double, per the SQL identifier rules) —
    the bridge between name-taking public APIs and the fragment-taking
    _*_sql helpers."""
    return "`" + name.replace("`", "``") + "`"


def _dot_sql(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            "0.0D, (acc, v) -> acc + v)")


def _norm_sql(a: str) -> str:
    return f"sqrt(aggregate({a}, 0.0D, (acc, v) -> acc + v * v))"


def _cosine_sql(a: str, b: str) -> str:
    return (f"coalesce({_dot_sql(a, b)} / "
            f"nullif({_norm_sql(a)} * {_norm_sql(b)}, 0.0D), 0.0D)")


def dot(a, b):
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_dot_sql(a, b))
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a):
    if isinstance(a, str):
        return F.expr(_norm_sql(a))
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b):
    # nullif guards the zero-norm vector: under ANSI mode a plain divide
    # HARD-FAILS the whole job on one degenerate row. cosine with a zero
    # vector is undefined — emit 0.0 (never above a threshold, never
    # outranks a genuine match).
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(_cosine_sql(a, b))
    return F.coalesce(
        dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0)), F.lit(0.0))


def drop_null_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Rows with NULL embeddings carry no similarity information and crash
    Arrow/numpy stages — every public entry point filters them first (the
    count of dropped rows is the caller's audit concern; a curation
    pipeline should surface it via text/quality checks upstream)."""
    return df.where(F.col(vec_col).isNotNull())


def unit_normalized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec/|vec|) — normalize ONCE so every subsequent pair comparison
    is a single dot product instead of dot + two norms (3× less HOF work in
    the quadratic stage, the part that matters at scale). Two-step select so
    the norm is evaluated once per row, not once per element. Zero vectors
    stay zero (nullif/coalesce — ANSI divide would fail the job)."""
    staged = df.select(F.col(id_col), F.col(vec_col),
                       F.nullif(norm(f"`{vec_col}`"), F.lit(0.0))
                       .alias("__norm"))
    return staged.select(
        F.col(id_col),
        F.transform(F.col(vec_col),
                    lambda x: F.coalesce(x / F.col("__norm"), F.lit(0.0))
                    ).alias(vec_col),
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Exact top-k neighbors per query: (query_id, vec_id, cosine_sim).

    The query side is explicitly broadcast — corpus never shuffles; ranking
    happens in per-query windows over the (tiny) candidate score set.
    Excludes self-matches when ids collide. Ties break by vec_id for
    determinism.
    """
    corpus = drop_null_vectors(corpus, vec_col)
    queries = drop_null_vectors(queries, vec_col)
    q = queries.select(F.col(id_col).alias(query_id_col),
                       F.col(vec_col).alias("__qvec"))
    joined = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(q))
    scored = joined.where(F.col(id_col) != F.col(query_id_col)).select(
        query_id_col, id_col,
        F.round(cosine(f"`{vec_col}`", "__qvec"), 6).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .select(query_id_col, id_col, "cosine_sim")
    )


def _collect_corpus(raw: DataFrame):
    """The ONLY driver collect in the brute-force index path — a named seam
    so tests can assert the auto-routed LSH path never touches it."""
    return raw.collect()


_FOOTER_SAFE_NODES = frozenset({
    # Plan nodes that cannot INCREASE the row count of their child — the
    # only shapes for which the summed footer num_rows is a true upper
    # bound. Joins, Generate (explode), Window-with-expansion, etc. are
    # absent on purpose: inputFiles() still lists the base files there,
    # but the frame can hold MORE rows than the footers say, and an
    # undercount would route embedding_dup_pairs(method="auto") onto the
    # driver-collect index path — the OOM this sizing exists to prevent.
    "Project", "Filter", "SubqueryAlias", "Sort", "GlobalLimit",
    "LocalLimit", "Deduplicate", "Sample", "Repartition",
    "RepartitionByExpression", "ResolvedHint", "UnresolvedHint",
})


def _plan_is_scan_shaped(df: DataFrame) -> bool:
    """True iff the analyzed logical plan is ONE relation leaf under
    row-count-non-increasing operators (see _FOOTER_SAFE_NODES). Union is
    deliberately NOT safe: ``inputFiles()`` DEDUPLICATES file paths, so a
    self-union lists each file once and the footer sum under-counts 2×."""
    try:
        def walk(node) -> bool:
            name = node.getClass().getSimpleName().replace("$", "")
            kids = node.children()
            if kids.size() == 0:
                # Leaf: any relation/scan node (LogicalRelation,
                # DataSourceV2[Scan]Relation, HiveTableRelation, ...).
                return "Relation" in name or name == "LogicalRDD"
            if name not in _FOOTER_SAFE_NODES:
                return False
            return all(walk(kids.apply(i)) for i in range(kids.size()))

        return walk(df._jdf.queryExecution().analyzed())
    except Exception:
        return False


def _scan_rowcount_upper_bound(df: DataFrame):
    """Upper bound on a frame's row count from parquet footers — no Spark
    job. ``inputFiles()`` lists the scan's files regardless of pushed
    filters, so for scan-shaped plans (relation + filters/projections —
    gated by :func:`_plan_is_scan_shaped`) the summed footer ``num_rows``
    bounds the post-filter count from above. Returns None when the frame
    isn't locally-readable parquet (in-memory frames, remote object
    stores, post-shuffle plans) or the plan contains a row-multiplying
    operator (join, explode) that would make the footer sum an
    UNDER-count — callers fall back to the bounded count probe."""
    from urllib.parse import unquote, urlparse

    if not _plan_is_scan_shaped(df):
        return None
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    try:
        import pyarrow.parquet as pq

        total = 0
        for f in files:
            parsed = urlparse(f)
            if parsed.scheme not in ("", "file"):
                return None
            total += pq.ParquetFile(unquote(parsed.path)).metadata.num_rows
        return total
    except Exception:
        return None


def embedding_dup_pairs(df: DataFrame, threshold: float = 0.99,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        method: str = "auto",
                        max_index_rows: int = 500_000,
                        row_hint: int | None = None) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold: (id_a, id_b, cosine_sim).

    ``method="auto"`` (default) picks the physical strategy — the exact
    brute-force index below ``max_index_rows``, sign-LSH bucketing above
    it — sizing the corpus in cost order: a caller-supplied ``row_hint``
    (free), the parquet-footer upper bound (no job; an upper bound on the
    filtered count is sufficient to prove the safe side), and only then a
    bounded count probe (scans at most ``max_index_rows + 1`` ids — the
    one case that runs a job at call time). Pass an explicit method to
    skip sizing entirely.

    ``method="numpy"``: the unit-normalized corpus is broadcast to
    executors as a dense matrix (the in-memory-index assumption every
    brute-force ANN tool makes) and each Arrow batch computes a blocked GEMM
    ``A_batch @ B.T`` — BLAS replaces per-pair JVM array allocation, ~10×
    faster. Exact, but the driver must hold the corpus: n·d float64 must
    fit (500k × 64 dims ≈ 256 MB), hence the auto guard.

    ``method="lsh"``: delegate to :func:`lsh_bucketed_pairs` — fully
    distributed, nothing collected, precision 1 (every emitted pair is
    verified by true cosine) but recall < 1. The 100 TB path.

    ``method="expr"``: pure Column expressions (no driver collect, exact at
    any corpus size — but quadratic HOF evaluation; verification-only).
    """
    df = drop_null_vectors(df, vec_col)
    if method == "auto":
        if row_hint is not None:
            n = row_hint
        else:
            n = _scan_rowcount_upper_bound(df)
            if n is None or n > max_index_rows:
                # bound unavailable or inconclusive (filters may still put
                # the real count under the line): one bounded probe job
                n = df.select(id_col).limit(max_index_rows + 1).count()
        method = "numpy" if n <= max_index_rows else "lsh"
    if method == "lsh":
        dim_row = df.select(F.size(F.col(vec_col))).first()
        if dim_row is None:  # empty corpus: no pairs, nothing to bucket
            return df.sparkSession.createDataFrame(
                [], "id_a long, id_b long, cosine_sim double")
        return lsh_bucketed_pairs(df, threshold=threshold, id_col=id_col,
                                  vec_col=vec_col, dim=dim_row[0])
    if method == "expr":
        unit = unit_normalized(df, id_col, vec_col)
        bounded_persist(unit)  # both join sides reuse the normalized vectors
        a = unit.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
        b = unit.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
        pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        return (
            pairs.select("id_a", "id_b",
                         F.round(dot("va", "vb"), 6).alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold)
        )

    import numpy as np
    import pandas as pd

    # Normalization happens in numpy on BOTH sides (not via JVM
    # higher-order functions — those run interpreted and would re-normalize
    # the corpus Spark-side a second time feeding mapInPandas): the Spark
    # plan is a bare column-pruned scan into the Arrow batches.
    raw = df.select(id_col, vec_col)
    collected = _collect_corpus(raw)  # guarded by the auto size probe
    if not collected:
        # empty (or all-null-vector) corpus: no pairs — _unit_rows on a
        # 0-row array would AxisError on the driver (mirror of the lsh
        # branch's empty guard)
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cosine_sim double")
    ids = np.array([r[id_col] for r in collected], dtype=np.int64)
    mat = _unit_rows(np.array([r[vec_col] for r in collected],
                              dtype=np.float64))
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, mat))

    def block_pairs(batches):
        b_ids, b_mat = bc.value
        for pdf in batches:
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            a_mat = _unit_rows(np.array(list(pdf[vec_col]), dtype=np.float64))
            # BLOCKED GEMM (the lsh_bucketed_pairs bound): a full 10k-row
            # Arrow batch against a max_index_rows=500k broadcast index
            # would be a 40 GB float64 sims buffer per task
            block = _gemm_block(len(b_ids))
            for s in range(0, len(a_ids), block):
                e = min(s + block, len(a_ids))
                sims = _np_round6(a_mat[s:e] @ b_mat.T)
                ai, bi = np.nonzero(
                    (sims >= threshold)
                    & (a_ids[s:e, None] < b_ids[None, :]))
                if len(ai):
                    yield pd.DataFrame({
                        "id_a": a_ids[s:e][ai], "id_b": b_ids[bi],
                        "cosine_sim": sims[ai, bi],
                    })

    # Spread the probe side before the Arrow pass: this path is size-gated
    # to <= max_index_rows, so the id-hash exchange is bounded-small, while
    # WITHOUT it a single-row-group corpus file feeds the whole N x N GEMM
    # to ONE task (measured at the 10x tier: 21.7 s in one task of a 22 s
    # query). Hash on the id, not round-robin: deterministic per row, no
    # sortBeforeRepartition full-row sort, and the emitted pair set is
    # partition-independent (each row block scores against the full
    # broadcast index).
    par = df.sparkSession.sparkContext.defaultParallelism
    return raw.repartition(par, F.col(id_col)).mapInPandas(
        block_pairs, schema="id_a long, id_b long, cosine_sim double")


def ivf_index(corpus: DataFrame, n_clusters: int = 16, max_iter: int = 8,
              id_col: str = "vec_id", vec_col: str = "embedding"):
    """Build an IVF (inverted-file) index: k-means coarse quantizer.

    Returns ``(assigned, centers)`` — the cell-assigned corpus DataFrame
    (id, vec, __cell) and the tiny driver-side center list
    (n_clusters × dim). At scale this is the one-time expensive step: write
    ``assigned`` out partitioned by ``__cell`` (and persist the centers) and
    every subsequent :func:`ivf_search` is a pruned read + per-cell scoring.

    The quantizer is the in-repo deterministic :func:`kmeans_lloyd`
    (init from the k lowest ids, ``max_iter`` Lloyd rounds, centers
    rounded per round): one tiny seed collect + one job per round. A
    coarse quantizer does not need converged centers — cells only route
    probes — and the per-cell recall stays comfortably above the
    self-certifying floors (measured in the catalog queries).
    """
    corpus = drop_null_vectors(corpus, vec_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col))
    if not corpus.head(1):  # no rows to seed the centers from
        return corpus.withColumn("__cell", F.lit(0).cast("int")), []
    _, centers = kmeans_lloyd(corpus, k=n_clusters, rounds=max_iter,
                              id_col=id_col, vec_col=vec_col)
    centers = [list(c) for c in centers]
    # Arrow GEMM assignment, not _assign_expr: a k×dim literal
    # expression at IVF sizes (16 × 64) generates a codegen method
    # Janino chokes on (measured: 86 s for 500 rows); the batched
    # GEMM is one numpy matmul per batch. Assignment (max-cosine, ties
    # to the lowest index) covers ALL corpus rows: zero vectors land in
    # cell 0 (all-zero sims, argmax keeps the first).
    assigned = _gemm_assign(corpus, centers, id_col, vec_col) \
        .withColumnRenamed("cluster", "__cell")
    return assigned, centers


def save_ivf_index(assigned: DataFrame, centers, path: str) -> None:
    """Persist an IVF index: the cell-assigned corpus partitioned by
    ``__cell`` (so a pruned probe reads ONLY its cells' files) plus the
    tiny center list as JSON. Crash-safe ordering like the LSH band
    index: data lands under a temp dir, the centers file is written
    LAST and marks the index complete — :func:`load_ivf_index` refuses
    a directory without it."""
    import json
    import os

    tmp = path.rstrip("/") + ".__tmp__"
    (assigned.write.mode("overwrite").partitionBy("__cell").parquet(
        os.path.join(tmp, "cells")))
    with open(os.path.join(tmp, "centers.json"), "w") as fh:
        json.dump([[float(x) for x in c] for c in centers], fh)
    if os.path.exists(path):
        import shutil

        shutil.rmtree(path)
    os.rename(tmp, path)


def load_ivf_index(spark, path: str):
    """(assigned, centers) back from :func:`save_ivf_index` — the
    cell-partitioned layout means :func:`ivf_search` with
    ``prune_cells=True`` turns probe routing into parquet PARTITION
    PRUNING: only the probed cells' files are read at all."""
    import json
    import os

    cpath = os.path.join(path, "centers.json")
    if not os.path.exists(cpath):
        raise ValueError(f"not a complete IVF index (no centers.json): "
                         f"{path}")
    with open(cpath) as fh:
        centers = json.load(fh)
    return spark.read.parquet(os.path.join(path, "cells")), centers


def ivf_search(assigned: DataFrame, centers, queries: DataFrame, k: int = 10,
               n_probe: int = 4, id_col: str = "vec_id",
               vec_col: str = "embedding",
               query_id_col: str = "query_id",
               prune_cells: bool = False) -> DataFrame:
    """Search an IVF index: route each query to its ``n_probe`` nearest
    cells, score only those cells, rank per query.

    Each query broadcasts with its probe-cell list; the corpus side never
    shuffles (the cell equi-join uses the index's layout). Recall/cost tunes
    with ``n_probe``/``n_clusters`` exactly like FAISS IVF. Deterministic
    for a fixed index. Returns (query_id, vec_id, cosine_sim).

    ``prune_cells=True`` additionally computes the distinct probe-cell
    set driver-side (bounded by n_clusters ints — the probe pass over
    the small query side runs twice) and filters the corpus with it
    BEFORE the join: on a :func:`save_ivf_index` layout that is parquet
    partition pruning — unprobed cells are never read from disk, the
    property that makes a persisted index pay at 100 TB.
    """
    import numpy as np

    queries = drop_null_vectors(queries, vec_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col))
    cmat = np.array(centers, dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1)
    n_probe = min(n_probe, len(cmat))

    def probe_cells(batches):
        for pdf in batches:
            qm = np.array(list(pdf[vec_col]), dtype=np.float64)
            sims = (qm @ cmat.T) / (np.linalg.norm(qm, axis=1)[:, None]
                                    * cnorm[None, :])
            probes = np.argsort(-sims, axis=1)[:, :n_probe]
            out = pdf.loc[pdf.index.repeat(n_probe)].reset_index(drop=True)
            out["__cell"] = probes.ravel()
            yield out[[id_col, vec_col, "__cell"]]

    probed = queries.mapInPandas(
        probe_cells,
        schema=f"{id_col} long, {vec_col} array<double>, __cell int")
    q = probed.select(F.col(id_col).alias(query_id_col),
                      F.col(vec_col).alias("__qvec"), "__cell")
    if prune_cells:
        # bounded collect: <= n_clusters distinct ints
        cells = [r["__cell"] for r in probed.select("__cell")
                 .distinct().collect()]
        assigned = assigned.where(F.col("__cell").isin(cells))

    scored = (
        assigned.join(F.broadcast(q), on="__cell")
        .where(F.col(id_col) != F.col(query_id_col))
        .select(query_id_col, id_col,
                F.round(cosine(f"`{vec_col}`", "__qvec"), 6)
                .alias("cosine_sim"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine_sim"),
                                                 F.asc(id_col))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= k)
            .select(query_id_col, id_col, "cosine_sim"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_clusters: int = 16, n_probe: int = 4, max_iter: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id") -> DataFrame:
    """One-shot IVF approximate top-k: :func:`ivf_index` + :func:`ivf_search`.

    Convenience wrapper — production reuse should build the index once and
    search it many times (index build dominates one-shot cost).
    """
    assigned, centers = ivf_index(corpus, n_clusters=n_clusters,
                                  max_iter=max_iter, id_col=id_col,
                                  vec_col=vec_col)
    return ivf_search(assigned, centers, queries, k=k, n_probe=n_probe,
                      id_col=id_col, vec_col=vec_col,
                      query_id_col=query_id_col)


def _hyperplane(bit: int, dim: int):
    """Deterministic ±1 hyperplane component from md5(bit:dim) parity."""
    nibble = F.substring(F.md5(F.concat_ws(":", F.lit(bit), F.lit(dim)).cast("binary")), 1, 1)
    return F.when(nibble.isin("8", "9", "a", "b", "c", "d", "e", "f"),
                  F.lit(1.0)).otherwise(F.lit(-1.0))


def lsh_bucket(vec_col, n_bits: int = 8, dim: int = 64):
    """Random-hyperplane LSH bucket id (int) for an embedding column.

    sign(v · h_b) per bit, h_b a deterministic ±1 hyperplane. Pure JVM
    expressions; the md5-derived plane components fold to constants at
    optimization time.
    """
    bucket = F.lit(0)
    for b in range(n_bits):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[_hyperplane(b, d) for d in range(dim)]),
                lambda x, h: x * h,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return bucket


def hyperplane_matrix(n_bits: int, dim: int):
    """The deterministic ±1 hyperplanes as a numpy (n_bits, dim) matrix —
    same md5-parity values as :func:`_hyperplane`, for the Arrow path."""
    import hashlib

    import numpy as np

    mat = np.empty((n_bits, dim))
    for b in range(n_bits):
        for d in range(dim):
            nibble = hashlib.md5(f"{b}:{d}".encode()).hexdigest()[0]
            mat[b, d] = 1.0 if nibble in "89abcdef" else -1.0
    return mat


def lsh_bucketed_pairs(df: DataFrame, threshold: float = 0.99, n_bits: int = 4,
                       tables: int = 4, dim: int = 64, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       max_bucket: int | None = None) -> DataFrame:
    """Approximate near-dup pairs: compare only within sign-LSH buckets,
    ``tables`` independent hash tables of ``n_bits`` bits each (standard
    multi-probe trade-off: P(candidate) = 1-(1-p^bits)^tables with
    p = 1-θ/π). A pair is emitted once even when several tables bucket it
    together.

    Physical strategy: bucket assignment is an Arrow-batched numpy projection
    (``V @ H.T`` — the pure-Column form builds constant-folded 64-term
    expression trees that Spark evaluates interpreted, measured ~10× slower),
    then a shuffle on (table, bucket), per-bucket numpy GEMM via
    ``applyInPandas``, then pair dedup. Every stage is distributed; nothing
    is collected.

    Hot-bucket skew (``max_bucket``, opt-in): clustered corpora concentrate
    whole clusters into one sign pattern, and a bucket's quadratic
    verification then runs in ONE task while the rest of the cluster
    idles. With ``max_bucket`` set, buckets above it are split into
    ⌈n/max_bucket⌉ hash-chunks and every chunk PAIR becomes its own task —
    recall-LOSSLESS (each doc pair still meets in exactly one chunk-pair
    group, unlike salting which drops cross-salt pairs). The split costs a
    bucket-size window pass (partition sort + a second shuffle of the
    banded rows), so it's OFF by default: measured on 1M clustered
    vectors it was wall-time-negative when bits already keep buckets ≤ a
    few thousand rows (tables=8/bits=12: 203 s → 266 s), and pays when a
    FEW mega-buckets dominate — 200k vectors in 4 latent clusters
    (50k-row buckets): 28.9 s → 18.3 s at identical recall on local[32],
    with the gap growing with cluster size since the unsplit version
    pins each mega-bucket to one task.
    """
    import numpy as np
    import pandas as pd

    total_bits = tables * n_bits
    hmat = hyperplane_matrix(total_bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    def assign_buckets(batches):
        for pdf in batches:
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            bits = (v @ hmat.T) > 0  # (n, total_bits)
            frames = []
            for t in range(tables):
                frames.append(pd.DataFrame({
                    "id": pdf[id_col], "vec": list(pdf[vec_col]),
                    "tbl": t,
                    "bucket": bits[:, t * n_bits:(t + 1) * n_bits] @ weights,
                }))
            yield pd.concat(frames, ignore_index=True)

    bucketed = drop_null_vectors(df, vec_col).select(
        F.col(id_col), F.col(vec_col)).mapInPandas(
        assign_buckets, schema="id long, vec array<double>, tbl int, bucket long")

    if max_bucket is None:
        tagged = bucketed.select(
            "id", "vec", "tbl", "bucket",
            F.lit(0).alias("chunk"), F.lit(0).alias("ca"),
            F.lit(0).alias("cb"))
    else:
        # chunk assignment: one window count on the same (tbl, bucket) key
        # the verification groups by. The window count materializes in its
        # own projection first — window expressions can't sit inside
        # explode/transform lambdas.
        w = Window.partitionBy("tbl", "bucket")
        sized = bucketed.withColumn(
            "__nch",
            F.greatest(F.lit(1), F.ceil(F.count(F.lit(1)).over(w)
                                        / F.lit(max_bucket))).cast("int")
        ).withColumn("chunk",
                     F.pmod(F.xxhash64("id"), F.col("__nch")).cast("int"))
        # a row in chunk c participates in every unordered chunk pair
        # (c, j): normalize with least/greatest so each pair group is
        # named once
        memberships = F.transform(
            F.sequence(F.lit(0), F.col("__nch") - 1),
            lambda j: F.struct(
                F.least(F.col("chunk"), j).alias("ca"),
                F.greatest(F.col("chunk"), j).alias("cb")))
        tagged = sized.select(
            "id", "vec", "tbl", "bucket", "chunk",
            F.explode(memberships).alias("cp")
        ).select("id", "vec", "tbl", "bucket", "chunk", "cp.ca", "cp.cb")

    def chunk_pairs(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        ca, cb = key[2], key[3]
        ids = pdf["id"].to_numpy(dtype=np.int64)
        v = np.array(list(pdf["vec"]), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0
        vn = v / norms[:, None]
        if ca == cb:
            a_idx = b_idx = np.arange(len(ids))
        else:
            chunks = pdf["chunk"].to_numpy()
            a_idx = np.nonzero(chunks == ca)[0]
            b_idx = np.nonzero(chunks == cb)[0]
        a_ids, b_ids = ids[a_idx], ids[b_idx]
        a_vn, b_vn = vn[a_idx], vn[b_idx]
        # BLOCKED GEMM: bound the live similarity matrix to ~64 MB — a
        # full n×n float64 for a 15k-row group is 1.8 GB, and 32
        # concurrent tasks of that GC-thrash the executor (measured
        # 477 s → 60 s for tables=4/bits=12 on 1M clustered vectors).
        block = _gemm_block(len(b_ids))
        frames = []
        for s in range(0, len(a_ids), block):
            e = min(s + block, len(a_ids))
            sims = _np_round6(a_vn[s:e] @ b_vn.T)  # (block, |b|)
            ai, bi = np.nonzero(
                (sims >= threshold) & (a_ids[s:e, None] < b_ids[None, :]))
            frames.append(pd.DataFrame({
                "id_a": a_ids[s:e][ai], "id_b": b_ids[bi],
                "cosine_sim": sims[ai, bi]}))
        if ca != cb:
            # cross pairs can orient either way; emit both directions'
            # matches normalized by the id< filter above plus its mirror
            for s in range(0, len(b_ids), block):
                e = min(s + block, len(b_ids))
                sims = _np_round6(b_vn[s:e] @ a_vn.T)
                bi2, ai2 = np.nonzero(
                    (sims >= threshold) & (b_ids[s:e, None] < a_ids[None, :]))
                frames.append(pd.DataFrame({
                    "id_a": b_ids[s:e][bi2], "id_b": a_ids[ai2],
                    "cosine_sim": sims[bi2, ai2]}))
        return pd.concat(frames, ignore_index=True) if frames else \
            pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []})

    pairs = tagged.groupBy("tbl", "bucket", "ca", "cb").applyInPandas(
        chunk_pairs, schema="id_a long, id_b long, cosine_sim double")
    return pairs.dropDuplicates(["id_a", "id_b"])


def semantic_contamination(corpus: DataFrame, evalset: DataFrame,
                           threshold: float = 0.95,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           eval_id_col: str | None = None,
                           eval_vec_col: str | None = None,
                           method: str = "auto",
                           max_broadcast_rows: int = 500_000,
                           n_bits: int = 8, tables: int = 4,
                           eval_row_hint: int | None = None) -> DataFrame:
    """CROSS-SET contamination by embedding cosine: every (corpus id,
    eval id, cosine_sim) hit with cosine ≥ ``threshold`` — the semantic
    sibling of ``dedup.ngram_contamination``. A paraphrased eval
    question that shares no 5-gram with its source still lands next to
    it in embedding space; this is the decontamination pass that
    catches it. Output columns: ``(id_col, eval_id, cosine_sim)``.

    Scale shape mirrors ngram_contamination's broadcast tier: the EVAL
    side is the structurally small one (a benchmark suite is thousands
    of vectors, the corpus is the 100 TB side), so the default
    broadcasts the unit-normalized eval matrix and scans the corpus
    ONCE with a blocked Arrow GEMM — zero corpus shuffle at any corpus
    size, exact.

    ``method``:

    - ``"broadcast"``: exact; driver must hold the eval matrix
      (guarded at ``max_broadcast_rows`` eval rows in ``auto``).
    - ``"lsh"``: both sides sign-LSH-bucketed (``tables`` tables ×
      ``n_bits`` bits, same deterministic hyperplanes as
      :func:`lsh_bucketed_pairs`), equi-join on (table, bucket),
      cross-side GEMM per bucket. Fully distributed — the path for an
      eval set too big to broadcast — precision 1 (every emitted hit
      is true cosine ≥ threshold), recall < 1.
    - ``"expr"``: exact pure-Column crossJoin (quadratic,
      verification-only).
    - ``"auto"``: broadcast when the eval side is provably ≤
      ``max_broadcast_rows`` (``eval_row_hint``, else parquet footer
      bound, else one bounded count probe), lsh otherwise.
    """
    eval_id_col = eval_id_col or id_col
    eval_vec_col = eval_vec_col or vec_col
    if id_col == "eval_id":
        # the eval side's id is always emitted as the fixed column name
        # "eval_id"; a corpus id literally named that would produce two
        # identically named output columns
        raise ValueError(
            "id_col='eval_id' collides with the fixed eval-side output "
            "column; rename the corpus id column before decontaminating")
    corpus = drop_null_vectors(corpus, vec_col)
    evalset = drop_null_vectors(evalset, eval_vec_col)
    if method == "auto":
        if eval_row_hint is not None:
            n = eval_row_hint  # caller-supplied: trusted, zero jobs
        else:
            n = _scan_rowcount_upper_bound(evalset)
            if n is None or n > max_broadcast_rows:
                # bound unavailable/inconclusive: one bounded probe job
                n = evalset.select(eval_id_col).limit(
                    max_broadcast_rows + 1).count()
        method = "broadcast" if n <= max_broadcast_rows else "lsh"
    if method == "expr":
        cu = unit_normalized(corpus, id_col, vec_col)
        eu = unit_normalized(
            evalset.select(F.col(eval_id_col).alias("eval_id"),
                           F.col(eval_vec_col).alias("__ev")),
            "eval_id", "__ev")
        pairs = cu.select(F.col(id_col), F.col(vec_col).alias("__cv")) \
            .crossJoin(eu)
        return (pairs.select(
            id_col, "eval_id",
            F.round(dot("__cv", "__ev"), 6)
            .alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))

    import numpy as np
    import pandas as pd

    id_t = corpus.schema[id_col].dataType.simpleString()
    eid_t = evalset.schema[eval_id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, eval_id {eid_t}, cosine_sim double"

    if method == "broadcast":
        collected = _collect_corpus(
            evalset.select(eval_id_col, eval_vec_col))
        if not collected:
            # empty (or all-null-vector) eval set: zero hits by
            # definition — _unit_rows on a 0-row array would AxisError
            # on the driver before the executor-side guard could apply
            return corpus.sparkSession.createDataFrame([], out_schema)
        e_ids = np.array([r[eval_id_col] for r in collected])
        e_mat = _unit_rows(np.array([r[eval_vec_col] for r in collected],
                                    dtype=np.float64))
        bc = corpus.sparkSession.sparkContext.broadcast((e_ids, e_mat))
        raw = corpus.select(id_col, vec_col)

        def hits(batches):
            b_ids, b_mat = bc.value
            for pdf in batches:
                if not len(pdf) or not len(b_ids):
                    continue
                a_ids = pdf[id_col].to_numpy()
                a_mat = _unit_rows(
                    np.array(list(pdf[vec_col]), dtype=np.float64))
                # BLOCKED GEMM: bound the live sims buffer to ~64 MB — a
                # full 10k-row Arrow batch against a 40k-vector eval set
                # is a 3.2 GB float64 matrix × 32 concurrent tasks (JVM
                # died at the 2M rung before blocking)
                block = _gemm_block(len(b_ids))
                for s in range(0, len(a_ids), block):
                    e = min(s + block, len(a_ids))
                    sims = _np_round6(a_mat[s:e] @ b_mat.T)
                    ai, bi = np.nonzero(sims >= threshold)
                    if len(ai):
                        yield pd.DataFrame({
                            id_col: a_ids[s:e][ai], "eval_id": b_ids[bi],
                            "cosine_sim": sims[ai, bi]})

        return raw.mapInPandas(hits, schema=out_schema)

    if method != "lsh":
        raise ValueError(
            f"method must be auto|broadcast|lsh|expr: {method!r}")

    # LSH tier: tag each side, bucket with the SAME deterministic
    # hyperplanes, meet in a (tbl, bucket) groupBy, cross-side GEMM.
    dim_row = corpus.select(F.size(F.col(vec_col))).first()
    if dim_row is None:  # empty corpus: zero hits, nothing to bucket
        return corpus.sparkSession.createDataFrame([], out_schema)
    dim = dim_row[0]
    hmat = hyperplane_matrix(tables * n_bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    def assign(side: int, idc: str, vc: str):
        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                v = np.array(list(pdf[vc]), dtype=np.float64)
                bits = (v @ hmat.T) > 0
                for t in range(tables):
                    yield pd.DataFrame({
                        "id": pdf[idc], "vec": list(pdf[vc]),
                        "side": side, "tbl": t,
                        "bucket":
                            bits[:, t * n_bits:(t + 1) * n_bits] @ weights})
        return gen

    # both ids travel in ONE union column; ANY dtype mismatch rides as
    # strings and casts back on output (ids are join keys here, not
    # values) — picking the corpus type for, say, int-vs-bigint sides
    # would wrap eval ids past 2^31 into silent collisions
    c_t = id_t if id_t == eid_t else "string"
    cb = corpus.select(
        F.col(id_col).cast(c_t).alias("__i"), F.col(vec_col).alias("__v")
    ).mapInPandas(assign(0, "__i", "__v"),
                  schema=f"id {c_t}, vec array<double>, side int, "
                         "tbl int, bucket long")
    eb = evalset.select(
        F.col(eval_id_col).cast(c_t).alias("__i"),
        F.col(eval_vec_col).alias("__v")
    ).mapInPandas(assign(1, "__i", "__v"),
                  schema=f"id {c_t}, vec array<double>, side int, "
                         "tbl int, bucket long")

    def bucket_hits(key: tuple, pdf: "pd.DataFrame") -> "pd.DataFrame":
        sides = pdf["side"].to_numpy()
        a = pdf[sides == 0]
        b = pdf[sides == 1]
        if not len(a) or not len(b):
            return pd.DataFrame({"cid": [], "eval_id": [],
                                 "cosine_sim": []})
        av = _unit_rows(np.array(list(a["vec"]), dtype=np.float64))
        bv = _unit_rows(np.array(list(b["vec"]), dtype=np.float64))
        a_ids, b_ids = a["id"].to_numpy(), b["id"].to_numpy()
        frames = []
        block = _gemm_block(len(b_ids))
        for s in range(0, len(a_ids), block):
            e = min(s + block, len(a_ids))
            sims = _np_round6(av[s:e] @ bv.T)
            ai, bi = np.nonzero(sims >= threshold)
            frames.append(pd.DataFrame({
                "cid": a_ids[s:e][ai], "eval_id": b_ids[bi],
                "cosine_sim": sims[ai, bi]}))
        return pd.concat(frames, ignore_index=True) if frames else \
            pd.DataFrame({"cid": [], "eval_id": [], "cosine_sim": []})

    hits = (cb.unionByName(eb).groupBy("tbl", "bucket")
            .applyInPandas(bucket_hits,
                           schema=f"cid {c_t}, eval_id {c_t}, "
                                  "cosine_sim double")
            .dropDuplicates(["cid", "eval_id"]))
    return hits.select(F.col("cid").cast(id_t).alias(id_col),
                       F.col("eval_id").cast(eid_t).alias("eval_id"),
                       "cosine_sim")


def label_centroids(df: DataFrame, vec_col: str = "embedding",
                    label_col: str = "label") -> DataFrame:
    """Element-wise mean embedding per label — the centroid/prototype
    aggregation behind cluster summaries, class prototypes, and IVF-style
    coarse quantizer training.

    Scale shape: ``posexplode`` turns the vector column into (label, pos,
    val) rows so the mean is ONE map-side-combinable groupBy(label, pos) —
    no holistic vector buffers, and hot labels spread over dim-many
    shuffle keys instead of one. Reassembly into array form is a second,
    tiny aggregate over #labels × dim rows. Returns (label, n_vectors,
    centroid array<double>).
    """
    pos = drop_null_vectors(df, vec_col).select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"))
    per_dim = (pos.groupBy("label", "pos")
               .agg(F.avg("val").alias("c"), F.count(F.lit(1)).alias("n")))
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "c"))),
        lambda s: s["c"])
    return (per_dim.groupBy("label")
            .agg(F.max("n").alias("n_vectors"), ordered.alias("centroid")))


# --------------------------------------------------------------------------- #
# Deterministic Lloyd's k-means + SemDeDup-style semantic dedup


def _round6(v: float) -> float:
    """round(x, 6) with SQL semantics (half away from zero) — Python's
    built-in round is banker's rounding, which would diverge from the
    DuckDB/Spark ``round`` the differential oracle uses."""
    import math

    return math.copysign(math.floor(abs(v) * 1e6 + 0.5), v) / 1e6


def _assign_expr(vec_col, centers):
    """Column: index of the max-cosine center, ties to the lowest index.

    Centers are driver-side Python lists (k of them — k-means k, not corpus
    size), so the whole assignment is a codegen'd expression: k dot products
    per row, no UDF, no shuffle. array_sort on (−sim, idx) structs gives
    argmax-with-deterministic-ties in one pass.
    """
    from funnel_rocket_spark.operators._litexpr import _sql_double

    # ONE parsed expression: the per-center Column loop cost k×dim F.lit
    # round-trips for the center arrays plus k lambda-built cosines —
    # thousands of py4j calls per IVF plan build (guide §7.3).
    cnorms = [sum(x * x for x in c) ** 0.5 for c in centers]
    vec = _qident(vec_col)  # vec_col is a NAME here, not a SQL fragment
    scored = []
    for i, (c, cn) in enumerate(zip(centers, cnorms)):
        center = "array(" + ",".join(_sql_double(x) for x in c) + ")"
        sim = (f"coalesce({_dot_sql(vec, center)} / "
               f"nullif({_norm_sql(vec)} * {_sql_double(cn)}, 0.0D), "
               "0.0D)")
        scored.append(f"named_struct('negsim', -({sim}), 'i', {i})")
    return F.expr(f"array_sort(array({','.join(scored)}))[0].i")


def _gemm_assign(e: DataFrame, centers, id_col: str, vec_col: str):
    """Arrow-batched max-cosine assignment against broadcast centers —
    one normalized GEMM per batch; argmax ties to the lowest index (numpy
    argmax keeps the first maximum, matching :func:`_assign_expr`)."""
    import numpy as np
    import pandas as pd  # noqa: F401 (pandas_udf type resolution)

    cmat = np.array(centers, dtype=np.float64)
    cn = np.linalg.norm(cmat, axis=1)
    cn[cn == 0] = 1.0
    cnorm = (cmat / cn[:, None]).T

    def run(batches):
        for pdf in batches:
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            out = pdf[[id_col, vec_col]].copy()
            out["cluster"] = np.argmax((m / norms[:, None]) @ cnorm, axis=1)
            yield out

    id_type = e.schema[id_col].dataType.simpleString()
    return e.mapInPandas(
        run, schema=f"{id_col} {id_type}, {vec_col} array<double>, cluster int")


def kmeans_lloyd(corpus: DataFrame, k: int = 8, rounds: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 method: str = "auto", init_centers: list | None = None):
    """Deterministic distributed Lloyd's k-means: returns (assigned, centers).

    Unlike Spark-ML KMeans (random init, engine-specific centroids), every
    step here is reproducible on any engine — which makes the whole iteration
    differential-testable against a SQL oracle:

    * init = the embeddings of the ``k`` lowest ids (no RNG);
    * assignment = max-cosine over broadcast centers, ties to lowest index;
    * update = per-dim mean, rounded to 6 decimals each round so double-
      accumulation order (Spark partial aggs, numpy partials, SQL avg)
      cannot leak into the next round's assignment.

    Two physical strategies, same semantics (agreement is tested):

    * ``method="expr"`` — assignment as a codegen'd expression over center
      literals, update as a per-dim column aggregate (one map-side-
      combinable exchange of k×dim cells). Zero Python workers; the
      SQL-oracle reference path. Right while k·dim stays expression-sized.
    * ``method="gemm"`` — Arrow-batched numpy: per-partition partial sums
      (cluster, count, Σvec) flow back as k rows per partition — update
      needs NO exchange at all, and assignment is one normalized GEMM per
      batch. 9× faster at 1M×64 with k=122, and still ~4× at 5k×64 with
      k=8 (the expr path recompiles k·dim codegen per round — a fixed cost
      the GEMM path never pays).
    * ``method="auto"`` (default) — "gemm"; measured faster at every
      tested (n, k, dim). "expr" remains for Arrow-less environments and
      as the expression-level twin the strategy-agreement test pins.

    The per-round driver traffic is k×dim floats (gemm: per input
    partition) — independent of corpus size; ``rounds`` is typically small
    (coarse quantizers don't need convergence). Returns the corpus with a
    ``cluster`` column (lazy; recomputed by consumers unless persisted)
    and the final rounded centers list.
    """
    e = drop_null_vectors(corpus, vec_col).select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col))
    e = e.where(F.aggregate(F.col(vec_col), F.lit(0.0),
                            lambda a, x: a + x * x) > 0)
    # Every round (and the returned assignment) re-reads this frame;
    # persist or each of the rounds+1 jobs re-scans + re-casts the corpus.
    e = bounded_persist(e)
    if init_centers is not None:
        # resume path: centers are deterministic given (input, k,
        # rounds), so a caller replaying persisted centers with
        # ``rounds=0`` reproduces the assignment bit-for-bit without
        # the training jobs (pipeline kmeans artifact cache)
        centers = [list(c) for c in init_centers]
    else:
        seeds = (e.orderBy(id_col).limit(k)
                 .select(vec_col).collect())
        centers = [list(r[0]) for r in seeds]
    if not centers:
        # empty corpus: zero assignments, zero centers — composable, not a
        # crash (an argmax over zero centers can't even be expressed)
        return e.withColumn("cluster", F.lit(None).cast("int")), []
    dim = len(centers[0])
    if method == "auto":
        method = "gemm"

    if method == "gemm":
        import numpy as np
        import pandas as pd  # noqa: F401

        for _ in range(rounds):
            cmat = np.array(centers, dtype=np.float64)
            cn = np.linalg.norm(cmat, axis=1)
            cn[cn == 0] = 1.0
            cnorm = (cmat / cn[:, None]).T
            kk = len(centers)

            def partials(batches, cnorm=cnorm, kk=kk):
                import pandas as pd
                for pdf in batches:
                    m = np.array(list(pdf[vec_col]), dtype=np.float64)
                    norms = np.linalg.norm(m, axis=1)
                    norms[norms == 0] = 1.0
                    a = np.argmax((m / norms[:, None]) @ cnorm, axis=1)
                    counts = np.bincount(a, minlength=kk)
                    sums = np.zeros((kk, m.shape[1]))
                    np.add.at(sums, a, m)
                    yield pd.DataFrame({
                        "cluster": np.arange(kk),
                        "n": counts,
                        "sums": list(sums)})

            rows = e.mapInPandas(
                partials,
                schema="cluster int, n long, sums array<double>").collect()
            totals = np.zeros((kk, dim))
            counts = np.zeros(kk)
            for r in rows:
                totals[r["cluster"]] += np.array(r["sums"])
                counts[r["cluster"]] += r["n"]
            centers = [
                [_round6(x) for x in (totals[ci] / counts[ci])]
                if counts[ci] > 0 else centers[ci]
                for ci in range(kk)
            ]
        return _gemm_assign(e, centers, id_col, vec_col), centers

    for _ in range(rounds):
        assigned = e.withColumn("cluster", _assign_expr(vec_col, centers))
        # per-dim column aggregate: k×dim avg cells, map-side combined —
        # no 64×-row posexplode blowup
        aggs = [F.avg(F.col(vec_col)[j]).alias(f"m{j}") for j in range(dim)]
        rows = assigned.groupBy("cluster").agg(*aggs).collect()
        by_cluster = {r["cluster"]: [r[f"m{j}"] for j in range(dim)]
                      for r in rows}
        centers = [
            [_round6(m) for m in by_cluster[ci]]
            if ci in by_cluster else centers[ci]
            for ci in range(len(centers))
        ]
    return e.withColumn("cluster", _assign_expr(vec_col, centers)), centers


def semantic_dedup_pairs(corpus: DataFrame, k: int = 8, rounds: int = 2,
                         threshold: float = 0.985, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         method: str = "gemm",
                         centers: list | None = None,
                         assigned: DataFrame | None = None) -> DataFrame:
    """SemDeDup-style near-duplicate pairs: cluster first, compare only
    within clusters — (id_a, id_b, cosine_sim ≥ threshold).

    The scale idea (Abbas et al., SemDeDup, 2023): embedding near-dups are
    overwhelmingly semantic neighbors, so k-means cells confine the
    quadratic comparison the same way LSH buckets do, but with cells that
    follow the data distribution instead of random hyperplanes. The corpus
    shuffles ONCE on ``cluster``; per-cell cost is |cell|², tuned by ``k``.
    Complementary to :func:`lsh_bucketed_pairs` — k-means cells never split
    a dense neighborhood across buckets, at the price of the clustering
    rounds.

    ``method="gemm"`` (default): per-cell Arrow-batched numpy GEMM with
    row-blocked accumulation (bounded memory on mega-cells) — ~3× faster
    than the HOF self-join at 5k vectors and the gap widens with |cell|.
    ``method="expr"``: cluster-keyed self-join with JVM higher-order-
    function cosine — pure codegen, no Python workers; the reference
    implementation the GEMM path is differential-tested against.
    Both are deterministic and value-match the chained-CTE SQL oracle.
    """
    if assigned is not None:
        # pre-ASSIGNED cells (r11 persisted-IVF pipeline artifact): the
        # caller supplies (id, vec, cluster) — zero training AND zero
        # assignment jobs. Per-vector nearest-center assignment is
        # independent of the rest of the corpus, so a persisted
        # full-side-input assignment restricted to any subset equals
        # assigning that subset directly (test-pinned).
        assigned = assigned.select(F.col(id_col), F.col(vec_col),
                                   F.col("cluster"))
    elif centers is not None:
        # pre-trained coarse quantizer (pipeline artifact cache): pure
        # assignment, zero training jobs
        assigned, _ = kmeans_lloyd(corpus, k=k, rounds=0, id_col=id_col,
                                   vec_col=vec_col, init_centers=centers)
    else:
        assigned, _ = kmeans_lloyd(corpus, k=k, rounds=rounds,
                                   id_col=id_col, vec_col=vec_col)
    # Consumed twice (or grouped) downstream; persist or every consumer
    # re-runs the final assignment expression AND the upstream scan.
    assigned = bounded_persist(assigned)
    if method == "gemm":
        import numpy as np
        import pandas as pd

        # pair schema follows the ACTUAL id type (string doc ids are as
        # legal as longs — the r8 id-dtype lesson): hardcoding long here
        # made Arrow reject any chain with string ids
        id_t = corpus.schema[id_col].dataType.simpleString()

        def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
            ids = pdf[id_col].to_numpy()
            order = np.argsort(ids)
            ids = ids[order]
            m = np.array(list(pdf[vec_col].to_numpy()[order]),
                         dtype=np.float64)
            norms = np.linalg.norm(m, axis=1)
            norms[norms == 0] = 1.0
            mn = m / norms[:, None]
            frames = []
            block = 2048  # bounds the sims buffer to ~block × |cell| doubles
            for s in range(0, len(ids), block):
                e = min(s + block, len(ids))
                sims = _np_round6(mn[s:e] @ mn.T)
                bi, bj = np.nonzero((sims >= threshold)
                                    & (ids[s:e, None] < ids[None, :]))
                frames.append(pd.DataFrame({
                    "id_a": ids[s:e][bi], "id_b": ids[bj],
                    "cosine_sim": sims[bi, bj]}))
            return (pd.concat(frames, ignore_index=True) if frames else
                    pd.DataFrame({"id_a": [], "id_b": [], "cosine_sim": []}))

        return assigned.groupBy("cluster").applyInPandas(
            cell_pairs,
            schema=f"id_a {id_t}, id_b {id_t}, cosine_sim double")
    a = assigned.select(F.col("cluster"), F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("__va"))
    b = assigned.select(F.col("cluster"), F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("__vb"))
    return (a.join(b, on="cluster")
            .where(F.col("id_a") < F.col("id_b"))
            .withColumn("cosine_sim",
                        F.round(cosine("__va", "__vb"), 6))
            .where(F.col("cosine_sim") >= threshold)
            .select("id_a", "id_b", "cosine_sim"))


# --------------------------------------------------------------------------- #
# IVF-PQ: product quantization of coarse-cell residuals (the FAISS IVFPQ
# shape) — the memory-bound ANN tier. A 768-dim float32 vector is 3 KB;
# its PQ code is m bytes (default 8). At 100 TB the codes table for a
# billion vectors fits in a fraction of the raw footprint, scans stay
# bandwidth-bound on codes, and raw vectors are only ever read for
# optional exact re-ranking.


def _pq_assign(S, cbk):
    """PQ code assignment for ALL subspaces in one shot.

    ``S`` (n, m, dsub) residual subvectors, ``cbk`` (m, K, dsub)
    codebooks → (n, m) int codes. One batched einsum replaces the m
    sequential small GEMMs of rounds ≤4 (the VERDICT-flagged build
    bottleneck: 16 Python-loop GEMMs per batch per round): the argmin of
    ``−2·S·cb + |cb|²`` over K is the nearest-centroid rule with the
    query-side ``|S|²`` term dropped (constant per (row, sub)). Ties →
    lowest code (np.argmin contract), keeping builds deterministic.

    Row-chunked: the (n, m, K) distance tensor of a full 10k-row Arrow
    batch is ~330 MB float64 — times the executor's task slots that's
    real memory; 2k-row chunks bound it at ~67 MB per task with no
    measurable throughput cost (the einsum is identical work).
    """
    import numpy as np

    cb_sq = (cbk ** 2).sum(axis=2)[None]
    out = np.empty((len(S), cbk.shape[0]), dtype=np.int64)
    for i in range(0, len(S), 2048):
        chunk = S[i:i + 2048]
        D = -2.0 * np.einsum("nmd,mkd->nmk", chunk, cbk) + cb_sq
        out[i:i + 2048] = np.argmin(D, axis=2)
    return out


def ivf_pq_index(corpus: DataFrame, n_clusters: int = 16, m: int = 8,
                 n_bits: int = 8, rounds: int = 4,
                 max_iter: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 train_rows: int = 1 << 20):
    """Build an IVF-PQ index. Returns ``(codes_df, centers, codebooks)``:

    * ``codes_df`` — (id, __cell, __codes array<int>): the m-byte-per-
      vector representation; write it partitioned by ``__cell``.
    * ``centers`` — coarse quantizer centroids (n_clusters × D, driver).
    * ``codebooks`` — numpy (m, 2**n_bits, D/m): per-subspace centroids
      trained on CELL RESIDUALS (x/|x| − center[cell]), FAISS-style —
      residuals are tighter-distributed than raw vectors, so the same
      bit budget quantizes them with less error.

    Physical shape per training round: ONE ``mapInPandas`` pass computes
    every subspace's assignments and per-partition partial sums
    simultaneously (GEMM per subspace against the broadcast codebooks),
    then a posexplode groupBy of m × K × D/m partial-sum cells (a few
    thousand rows) updates the codebooks driver-side — no corpus
    shuffle, ever. The corpus is unit-normalized first so ADC's L2
    arithmetic and the suite's cosine scores are exact duals
    (L2² = 2 − 2·cos on unit vectors).

    Deterministic for fixed (data, params): the coarse k-means and the
    codebooks both seed from the lowest ids (codebook seeds = the K
    lowest-id residual subvectors), ties to the lowest code.

    ``train_rows`` caps the codebook TRAINING set FAISS-style: above the
    cap, training reads a deterministic xxhash64(id)-gated sample —
    scale-stable, layout-independent — while ENCODING still covers every
    vector. Training cost then stops growing with the corpus (the r4
    164 s build at 1M vectors was 4 full-corpus rounds). The default is
    the measured knee of the r6 train_rows sweep at 1M×64 (``tools/
    scale_check.py pqsweep``): 2^18/2^19 samples cost Refine recall@10
    (0.94 → 0.89-0.90) while 2^20 holds 0.94 at a ~30 s build — FAISS's
    30·K-256·K guideline undershoots for these cell-residual codebooks,
    so the default stays a generous 4096·K at n_bits=8.
    ``train_rows=0`` disables sampling.
    """
    import numpy as np

    K = 1 << n_bits
    unit = unit_normalized(drop_null_vectors(corpus, vec_col)
                           .select(F.col(id_col),
                                   F.col(vec_col).cast("array<double>")
                                   .alias(vec_col)),
                           id_col, vec_col)
    # PERSIST the normalized frame before the k-means fit: the
    # normalization is an interpreted HOF projection, and every Lloyd
    # round re-reads its input — uncached, a coarse fit measured 77.7 s
    # at 1M×64 vs 10.7 s on a materialized frame.
    unit = bounded_persist(unit)
    assigned, centers = ivf_index(unit, n_clusters=n_clusters,
                                  max_iter=max_iter, id_col=id_col,
                                  vec_col=vec_col)
    if not centers:  # empty corpus: empty index, dimensionless codebooks
        empty = corpus.sparkSession.createDataFrame(
            [], f"{id_col} long, __cell int, __codes array<int>")
        return empty, [], np.zeros((m, K, 0))
    assigned = bounded_persist(assigned)
    cmat = np.array(centers, dtype=np.float64)
    dim = cmat.shape[1]
    if dim % m:
        raise ValueError(f"m={m} must divide dim={dim}")
    dsub = dim // m
    spark = corpus.sparkSession
    sc = spark.sparkContext

    # Training sample: deterministic hash gate on the id (NOT df.sample —
    # that is partition-layout dependent). The persisted `assigned` frame
    # makes the sizing count cheap; the gate fraction slightly overshoots
    # so the sample lands at/above train_rows.
    train = assigned
    if train_rows:
        n_total = assigned.count()
        if n_total > train_rows:
            mod = 1 << 20
            keep = min(mod, int(mod * train_rows / n_total * 1.05) + 1)
            train = assigned.where(
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) < keep)
            train = bounded_persist(train)

    # codebook seeds: K lowest-id residual subvectors (bounded collect of
    # K rows — same deterministic-seed rule as kmeans_lloyd)
    seed_rows = (train.orderBy(id_col).limit(K)
                 .select(id_col, vec_col, "__cell").collect())
    seed_mat = np.array([r[vec_col] for r in seed_rows], dtype=np.float64)
    seed_res = seed_mat - cmat[[r["__cell"] for r in seed_rows]]
    cb = np.zeros((m, K, dsub))
    n_seed = len(seed_rows)
    for sub in range(m):
        cb[sub, :n_seed] = seed_res[:, sub * dsub:(sub + 1) * dsub]
        if n_seed < K:  # tiny corpus: pad with jittered copies
            cb[sub, n_seed:] = cb[sub, (np.arange(K - n_seed) % max(n_seed, 1))] + 1e-6

    import pandas as pd

    for _ in range(rounds):
        bc = sc.broadcast((cb, cmat))

        def partials(batches):
            cbk, cm = bc.value
            sums = np.zeros((m, K, dsub))
            cnts = np.zeros((m, K), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                X = np.array(list(pdf[vec_col]), dtype=np.float64)
                R = X - cm[pdf["__cell"].to_numpy()]
                S = R.reshape(len(R), m, dsub)
                codes = _pq_assign(S, cbk)  # (n, m), one batched einsum
                # scatter partial sums on flattened (sub, code) keys —
                # bincount is the C-speed segment-sum for both counts
                # and per-dimension vector sums
                flat = (codes + np.arange(m)[None, :] * K).T.ravel()
                cnts += np.bincount(flat, minlength=m * K).reshape(m, K)
                St = S.transpose(1, 0, 2).reshape(-1, dsub)
                for d_i in range(dsub):
                    sums.reshape(m * K, dsub)[:, d_i] += np.bincount(
                        flat, weights=St[:, d_i], minlength=m * K)
            sub_i, code_i = np.nonzero(cnts)
            yield pd.DataFrame({
                "sub": sub_i, "code": code_i, "cnt": cnts[sub_i, code_i],
                "vsum": [sums[s, c].tolist()
                         for s, c in zip(sub_i, code_i)]})

        part_df = train.mapInPandas(
            partials, schema="sub int, code int, cnt long, vsum array<double>")
        agg = (part_df.select("sub", "code", "cnt",
                              F.posexplode("vsum").alias("pos", "v"))
               .groupBy("sub", "code", "pos")
               .agg(F.sum("v").alias("s"),
                    # ride the count on pos 0 — one exchange serves both
                    F.sum(F.when(F.col("pos") == 0, F.col("cnt"))
                          .otherwise(0)).alias("n0"))
               .collect())
        new_cb = cb.copy()
        counts = np.zeros((m, K), dtype=np.int64)
        vec_sums = np.zeros((m, K, dsub))
        for r in agg:
            vec_sums[r["sub"], r["code"], r["pos"]] = r["s"]
            if r["pos"] == 0:
                counts[r["sub"], r["code"]] = r["n0"]
        nz = counts > 0
        new_cb[nz] = vec_sums[nz] / counts[nz][:, None]
        cb = new_cb
        bc.destroy()

    cb_bc = sc.broadcast((cb, cmat))

    def encode(batches):
        cbk, cm = cb_bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(list(pdf[vec_col]), dtype=np.float64)
            R = X - cm[pdf["__cell"].to_numpy()]
            S = R.reshape(len(R), m, dsub)
            codes = _pq_assign(S, cbk).astype(np.int32)
            yield pd.DataFrame({
                "id": pdf[id_col], "__cell": pdf["__cell"],
                "__codes": list(codes.tolist())})

    codes_df = assigned.mapInPandas(
        encode, schema="id long, __cell int, __codes array<int>"
    ).withColumnRenamed("id", id_col)
    return codes_df, centers, cb


def ivf_pq_search(codes_df: DataFrame, centers, codebooks,
                  queries: DataFrame, k: int = 10, n_probe: int = 4,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  query_id_col: str = "query_id",
                  rerank_with: DataFrame | None = None,
                  rerank_depth: int | None = None) -> DataFrame:
    """ADC (asymmetric distance computation) search over an IVF-PQ index:
    (query_id, vec_id, approx_cosine) — or exact ``cosine_sim`` when
    re-ranking.

    Per query: route to the ``n_probe`` nearest coarse cells (cosine, like
    :func:`ivf_search`), build the m × K distance table of the query's
    CELL RESIDUAL against each codebook driver-side (tiny:
    queries × probes × m × K doubles), broadcast the tables, and score
    candidates with a pure table GATHER — no vector arithmetic touches
    the corpus at search time, only its m-int codes. Each Arrow batch
    pre-trims to its local top-k per query (top-k of a union == top-k of
    the union of per-batch top-ks), so the final per-query window ranks a
    bounded candidate set. ``approx_cosine = 1 − d²/2`` (unit-vector
    duality), rounded to 6 — comparable with, but approximate relative
    to, the exact suite scores.

    ``rerank_with`` = the raw vector table (FAISS's ``Refine`` stage, the
    standard production configuration): ADC selects ``rerank_depth``
    (default 10·k) candidates per query, ONLY those join back to their
    raw vectors for exact cosine, and the final top-k ranks by the exact
    score (column ``cosine_sim``). Quantization error then only has to
    keep true neighbors inside the top-R, not rank them — at 1M clustered
    vectors this lifts recall@10 from 0.17 (raw ADC ranking) to ~1.0 for
    the cost of queries × R exact distances. Without it, fine in-cell
    ranking is limited by code resolution.
    """
    import numpy as np
    import pandas as pd

    cmat = np.array(centers, dtype=np.float64)
    mq, K, dsub = codebooks.shape
    n_probe = min(n_probe, len(cmat))
    depth = (rerank_depth or 10 * k) if rerank_with is not None else k
    qrows = (drop_null_vectors(queries, vec_col)
             .select(F.col(id_col), F.col(vec_col).cast("array<double>")
                     .alias(vec_col)).collect())
    if not len(cmat) or not qrows:  # empty index or empty query set
        score_col = ("cosine_sim" if rerank_with is not None
                     else "approx_cosine")
        return codes_df.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, {score_col} double")
    q_ids = np.array([r[id_col] for r in qrows], dtype=np.int64)
    qm = np.array([r[vec_col] for r in qrows], dtype=np.float64)
    qn = np.linalg.norm(qm, axis=1)
    qn[qn == 0] = 1.0
    qm = qm / qn[:, None]
    cn = np.linalg.norm(cmat, axis=1)
    cn[cn == 0] = 1.0
    sims = (qm @ cmat.T) / cn[None, :]
    probes = np.argsort(-sims, axis=1)[:, :n_probe]  # (nq, n_probe)
    # distance tables per (query, probed cell): T[sub, code] =
    # ||r_sub - cb[sub, code]||² with r = q - center[cell]
    tables = {}
    for qi in range(len(q_ids)):
        for cell in probes[qi]:
            r = qm[qi] - cmat[cell]
            S = r.reshape(mq, dsub)
            t = ((S[:, None, :] - codebooks) ** 2).sum(axis=2)  # (m, K)
            tables[(int(q_ids[qi]), int(cell))] = t
    sc = codes_df.sparkSession.sparkContext
    bc = sc.broadcast(tables)
    probed_cells = sorted({int(c) for row in probes for c in row})

    def score(batches):
        tabs = bc.value
        by_cell = {}
        for (qid, cell), t in tabs.items():
            by_cell.setdefault(cell, []).append((qid, t))
        for pdf in batches:
            frames = []
            cells = pdf["__cell"].to_numpy()
            codes = np.array(list(pdf["__codes"]), dtype=np.int64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            for cell in np.unique(cells):
                idx = np.nonzero(cells == cell)[0]
                gather_rows = np.arange(mq)
                for qid, t in by_cell.get(int(cell), ()):
                    keep = idx[ids[idx] != qid]  # self-match excluded,
                    # matching cosine_topk/ivf_search semantics
                    if not len(keep):
                        continue
                    d = t[gather_rows, codes[keep]].sum(axis=1)
                    top = np.argsort(d, kind="stable")[:depth]
                    frames.append(pd.DataFrame({
                        "query_id": qid, "vec_id": ids[keep][top],
                        "d2": d[top]}))
            yield (pd.concat(frames, ignore_index=True) if frames else
                   pd.DataFrame({"query_id": [], "vec_id": [], "d2": []}))

    cand = codes_df.where(F.col("__cell").isin(probed_cells))
    scored = cand.mapInPandas(score,
                              schema="query_id long, vec_id long, d2 double")
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    adc_top = (scored.withColumn("__rk", F.row_number().over(w))
               .where(F.col("__rk") <= depth))
    if rerank_with is None:
        return adc_top.select(F.col("query_id").alias(query_id_col),
                              F.col("vec_id").alias(id_col),
                              F.round(1.0 - F.col("d2") / 2.0, 6)
                              .alias("approx_cosine"))
    # Refine: only queries × depth candidate rows rejoin their raw
    # vectors; exact cosine reranks, and the emitted scores are exact.
    qdf = codes_df.sparkSession.createDataFrame(
        [(int(r[id_col]), list(r[vec_col])) for r in qrows],
        f"query_id long, __qv array<double>")
    raw = (rerank_with.select(F.col(id_col).alias("vec_id"),
                              F.col(vec_col).cast("array<double>")
                              .alias("__rv")))
    # candidate list (queries × depth rows) broadcasts; the raw-vector
    # table streams through the semi-shaped hash join untouched
    exact = (raw.join(F.broadcast(adc_top.select("query_id", "vec_id")),
                      "vec_id")
             .join(F.broadcast(qdf), "query_id")
             .select("query_id", "vec_id",
                     F.round(cosine("__rv", "__qv"), 6)
                     .alias("cosine_sim")))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id"))
    return (exact.withColumn("__rk", F.row_number().over(w2))
            .where(F.col("__rk") <= k)
            .select(F.col("query_id").alias(query_id_col),
                    F.col("vec_id").alias(id_col), "cosine_sim"))


def ivf_pq_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                n_clusters: int = 16, m: int = 8, n_bits: int = 6,
                n_probe: int = 4, rounds: int = 4, max_iter: int = 8,
                id_col: str = "vec_id", vec_col: str = "embedding",
                query_id_col: str = "query_id",
                rerank: bool = False,
                rerank_depth: int | None = None) -> DataFrame:
    """One-shot IVF-PQ search (index + encode + ADC, optionally exact
    re-ranking of the ADC top-R against the corpus). Production builds
    the index once (:func:`ivf_pq_index`, write codes partitioned by
    cell) and searches many times."""
    codes, centers, cb = ivf_pq_index(
        corpus, n_clusters=n_clusters, m=m, n_bits=n_bits, rounds=rounds,
        max_iter=max_iter, id_col=id_col, vec_col=vec_col)
    return ivf_pq_search(codes, centers, cb, queries, k=k, n_probe=n_probe,
                         id_col=id_col, vec_col=vec_col,
                         query_id_col=query_id_col,
                         rerank_with=corpus if rerank else None,
                         rerank_depth=rerank_depth)
