#!/usr/bin/env python
"""Scale sanity check: synthesize an N-row event stream (default 10M rows,
~1M groups — 100× the sf0.1 bench table), write it as parquet, and time
the core engine paths plus the round-2 behavioral operators on it.

Not part of the driver gates — this is the "would the plan survive a
100× scale-up" experiment run locally: per-query wall time should grow
~linearly with rows while plan shapes stay identical (the plan gates in
tests/test_plans.py pin the shapes; this script pins the slope).

Usage: python tools/scale_check.py [n_rows] [n_groups]
       python tools/scale_check.py <rung> [args]   (see main() for rungs;
       e.g. ``whalespill 40000000 0.75 1g`` writes tools/rung_whale_spill.json,
       ``served 8 parent=<checkout> change=.`` writes
       tools/rung_served_sf1.json)
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from funnel_rocket_spark import benchqueries as bq  # noqa: E402
from funnel_rocket_spark.engine import QueryEngine  # noqa: E402
from funnel_rocket_spark.engine import engine as engine_mod  # noqa: E402
from funnel_rocket_spark.operators import behavior, temporal  # noqa: E402
from funnel_rocket_spark.session import get_spark  # noqa: E402

NANOS_DAY = 86_400_000_000_000


def synthesize(spark, n_rows: int, n_groups: int, path: str,
               whale_share: float | None = None) -> None:
    """Deterministic event stream: hash-derived users/types/values, 90
    days of activity. xxhash64 is fine here — no cross-engine oracle,
    just volume. ``whale_share=s`` plants a pathological WHALE group:
    a fraction s of the rows (those with ``id % 1000 < 1000 s``) lands
    in user_id -1, a bot holding that share of the whole stream; the
    rest hash uniformly — the skew shape a per-group window sort must
    survive."""
    types = F.array(*[F.lit(t) for t in
                      ("view", "view", "view", "click", "click",
                       "purchase", "signup", "error")])
    uid = F.pmod(F.xxhash64("id"), F.lit(n_groups))
    if whale_share:
        uid = F.when(F.pmod(F.col("id"), F.lit(1000))
                     < F.lit(round(whale_share * 1000)),
                     F.lit(-1)).otherwise(uid)
    df = (
        spark.range(n_rows)
        .withColumn("user_id", uid)
        .withColumn("ts", (F.lit(1_700_000_000_000_000_000)
                           + F.pmod(F.xxhash64("id", F.lit(1)),
                                    F.lit(90 * NANOS_DAY))))
        .withColumn("event_type",
                    types[F.pmod(F.xxhash64("id", F.lit(2)), F.lit(8))
                          .cast("int")])
        .withColumn("value",
                    (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100_000))
                     / 100.0))
        .withColumnRenamed("id", "event_id")
    )
    df.write.mode("overwrite").parquet(path)


def synthesize_docs(spark, n_docs: int, path: str) -> None:
    """Synthetic corpus with planted near-duplicates: every 20th doc is
    its predecessor's text plus one extra token (Jaccard ≈ 0.98 on
    3-gram shingles). 60-140 tokens/doc from a 10k-word vocabulary."""
    base = F.when(F.pmod("id", F.lit(20)) == 0, F.col("id") - 1) \
        .otherwise(F.col("id"))
    n_tokens = (F.pmod(F.xxhash64(base, F.lit(7)), F.lit(80)) + 60)
    words = F.transform(
        F.sequence(F.lit(1), n_tokens.cast("int")),
        lambda i: F.concat(F.lit("w"), F.pmod(
            F.xxhash64(base, i.cast("long")), F.lit(10_000)).cast("string")))
    text = F.when(
        F.pmod("id", F.lit(20)) == 0,
        F.concat_ws(" ", F.concat_ws(" ", words), F.lit("wextra")),
    ).otherwise(F.concat_ws(" ", words))
    (spark.range(n_docs)
     .select(F.col("id").alias("doc_id"), text.alias("text"))
     .write.mode("overwrite").parquet(path))


def synthesize_embeddings(spark, n_vecs: int, dim: int, path: str,
                          n_latent: int = 64) -> None:
    """Deterministic clustered vectors with planted near-duplicates.

    Each vector belongs to one of ``n_latent`` latent clusters (centroid =
    hash-derived in [-1, 1]^dim) plus per-vector noise — so an IVF coarse
    quantizer has real structure to find. Every 50th vector is its
    predecessor's vector with tiny extra noise (cosine ≈ 0.999): the
    ground-truth near-dup pair list is (i-1, i) for i % 50 == 0, i > 0,
    giving an exact recall denominator without an O(n²) brute-force pass.
    All expression-level (xxhash64-derived), nothing collected.
    """
    base = F.when((F.pmod("id", F.lit(50)) == 0) & (F.col("id") > 0),
                  F.col("id") - 1).otherwise(F.col("id"))
    cluster = F.pmod(F.xxhash64(base, F.lit(11)), F.lit(n_latent))

    def unit(h):  # hash → [-1, 1)
        return (F.pmod(h, F.lit(20_000)) - 10_000) / 10_000.0

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: (unit(F.xxhash64(cluster, j.cast("long"), F.lit(13)))
                   + 0.25 * unit(F.xxhash64(base, j.cast("long"), F.lit(17)))
                   + 0.02 * unit(F.xxhash64("id", j.cast("long"), F.lit(19)))
                   ).cast("float"))
    (spark.range(n_vecs)
     .select(F.col("id").alias("vec_id"), vec.alias("embedding"))
     .write.mode("overwrite").parquet(path))


def embeddings_main(n_vecs: int, dim: int = 64) -> None:
    """ANN-at-scale evidence: IVF build/search timing + recall@10 vs brute
    force across n_probe, and the sign-LSH near-dup recall on planted
    pairs. sf0.1's embeddings table is 2k vectors — this is the 100-500×
    version (default 1M)."""
    from funnel_rocket_spark.operators import similarity

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"emb_{n_vecs}.parquet")
    spark = get_spark(app_name="scale-check-emb")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize_embeddings(spark, n_vecs, dim, path)
        print(f"# synthesized {n_vecs} vectors in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    emb = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

    out = {"n_vecs": n_vecs, "dim": dim, "timings": {}, "recall": {}}
    n_queries = 10
    queries = emb.filter(F.col("vec_id") < n_queries)

    # ground truth: exact top-10 per query (brute force over the corpus)
    t0 = time.perf_counter()
    exact = {}
    for r in similarity.cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    out["timings"]["brute_topk"] = round(time.perf_counter() - t0, 2)

    # IVF: build once, search at increasing probe depth
    t0 = time.perf_counter()
    assigned, centers = similarity.ivf_index(emb, n_clusters=64, max_iter=8)
    assigned = assigned.persist()
    assigned.count()
    out["timings"]["ivf_build_k64"] = round(time.perf_counter() - t0, 2)
    for n_probe in (1, 2, 4, 8, 16):
        t0 = time.perf_counter()
        approx = {}
        rows = similarity.ivf_search(assigned, centers, queries, k=10,
                                     n_probe=n_probe).collect()
        for r in rows:
            approx.setdefault(r["query_id"], set()).add(r["vec_id"])
        out["timings"][f"ivf_search_p{n_probe}"] = round(
            time.perf_counter() - t0, 2)
        recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q])
                   for q in exact]
        out["recall"][f"ivf_p{n_probe}@10"] = round(
            sum(recalls) / len(recalls), 3)
        print(f"# ivf n_probe={n_probe}: "
              f"{out['timings'][f'ivf_search_p{n_probe}']}s "
              f"recall@10={out['recall'][f'ivf_p{n_probe}@10']}",
              file=sys.stderr)
    assigned.unpersist()

    # IVF-PQ: the memory-bound tier — 64-dim float64 becomes 8 int codes.
    # Build once (coarse + codebooks + encode), search at two probe depths,
    # recall vs the same exact top-10 sets.
    t0 = time.perf_counter()
    codes, pq_centers, pq_cb = similarity.ivf_pq_index(
        emb, n_clusters=64, m=16, n_bits=8, rounds=4)
    codes = codes.persist()
    codes.count()
    out["timings"]["ivfpq_build_k64_m16b8"] = round(time.perf_counter() - t0, 2)
    # raw ADC ranking vs the production Refine configuration (exact
    # re-rank of the ADC top-100): quantization only has to KEEP true
    # neighbors in the top-R, not rank them
    for n_probe, rerank in ((4, False), (16, False), (4, True), (16, True)):
        tag = f"ivfpq_search_p{n_probe}" + ("_rerank" if rerank else "")
        t0 = time.perf_counter()
        approx = {}
        rows = similarity.ivf_pq_search(
            codes, pq_centers, pq_cb, queries, k=10, n_probe=n_probe,
            rerank_with=emb if rerank else None,
            rerank_depth=100 if rerank else None).collect()
        for r in rows:
            approx.setdefault(r["query_id"], set()).add(r["vec_id"])
        out["timings"][tag] = round(time.perf_counter() - t0, 2)
        recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q])
                   for q in exact]
        out["recall"][tag + "@10"] = round(sum(recalls) / len(recalls), 3)
        print(f"# {tag}: {out['timings'][tag]}s "
              f"recall@10={out['recall'][tag + '@10']}", file=sys.stderr)
    codes.unpersist()

    # sign-LSH near-dup recall on the planted (i-1, i) pairs. Bucket bits
    # scale with the corpus: per-bucket verification is a GEMM over the
    # bucket's vectors, so bits must keep bucket occupancy bounded
    # (~n/2^bits per table) — the knob a 100 TB run turns first.
    n_planted = (n_vecs - 1) // 50
    lsh_configs = (((4, 8), (8, 8), (4, 12)) if n_vecs <= 200_000
                   else ((4, 12), (8, 12), (4, 16)))
    for tables, bits in lsh_configs:
        t0 = time.perf_counter()
        pairs = similarity.lsh_bucketed_pairs(
            emb, threshold=0.99, n_bits=bits, tables=tables, dim=dim)
        found = pairs.filter(
            (F.col("id_b") - F.col("id_a") == 1)
            & (F.pmod("id_b", F.lit(50)) == 0)).count()
        out["timings"][f"lsh_t{tables}b{bits}"] = round(
            time.perf_counter() - t0, 2)
        out["recall"][f"lsh_t{tables}b{bits}_planted"] = round(
            found / n_planted, 3)
        print(f"# lsh tables={tables} bits={bits}: "
              f"{out['timings'][f'lsh_t{tables}b{bits}']}s planted-recall="
              f"{out['recall'][f'lsh_t{tables}b{bits}_planted']}",
              file=sys.stderr)
    print(json.dumps(out))


def pqsweep_main(n_vecs: int, dim: int = 64) -> None:
    """train_rows knee-finding for IVF-PQ (VERDICT r5 #4): the sampled
    codebook training bought the 164→27 s build but dropped Refine
    recall@10 at 1M vectors 0.94→0.90. Sweep the cap, report build time +
    Refine recall per point, to pick the default."""
    from funnel_rocket_spark.operators import similarity

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"emb_{n_vecs}.parquet")
    spark = get_spark(app_name="scale-check-pqsweep")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        synthesize_embeddings(spark, n_vecs, dim, path)
    emb = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding"))

    n_queries = 10
    queries = emb.filter(F.col("vec_id") < n_queries)
    exact = {}
    for r in similarity.cosine_topk(emb, queries, k=10).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])

    out = {"n_vecs": n_vecs, "sweep": {}}
    for train_rows in (1 << 18, 1 << 19, 1 << 20, 0):
        tag = str(train_rows) if train_rows else "full"
        t0 = time.perf_counter()
        codes, pq_centers, pq_cb = similarity.ivf_pq_index(
            emb, n_clusters=64, m=16, n_bits=8, rounds=4,
            train_rows=train_rows)
        codes = codes.persist()
        codes.count()
        build = round(time.perf_counter() - t0, 2)
        point = {"build_s": build}
        for n_probe in (4, 16):
            t0 = time.perf_counter()
            approx = {}
            rows = similarity.ivf_pq_search(
                codes, pq_centers, pq_cb, queries, k=10, n_probe=n_probe,
                rerank_with=emb, rerank_depth=100).collect()
            for r in rows:
                approx.setdefault(r["query_id"], set()).add(r["vec_id"])
            recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q])
                       for q in exact]
            point[f"refine_p{n_probe}_s"] = round(time.perf_counter() - t0, 2)
            point[f"refine_p{n_probe}_recall@10"] = round(
                sum(recalls) / len(recalls), 3)
        codes.unpersist()
        spark.catalog.clearCache()
        out["sweep"][tag] = point
        print(f"# train_rows={tag}: build {build}s, "
              f"refine p16 recall@10="
              f"{point['refine_p16_recall@10']}", file=sys.stderr)
    print(json.dumps(out))


def docs_main(n_docs: int) -> None:
    """Corpus-scale dedup check: minhash LSH pairs + end-to-end survivor
    filter on n_docs synthetic documents (sf0.1's table is 5k docs —
    this is the 20-100× version)."""
    from funnel_rocket_spark.operators import dedup

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"docs_{n_docs}.parquet")
    spark = get_spark(app_name="scale-check-docs")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize_docs(spark, n_docs, path)
        print(f"# synthesized {n_docs} docs in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    docs = spark.read.parquet(path)

    out = {"n_docs": n_docs, "timings": {}}
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, n=3,
                                    threshold=0.5)
    n_pairs = pairs.count()
    out["timings"]["minhash_lsh_pairs"] = round(time.perf_counter() - t0, 2)
    out["n_pairs"] = n_pairs

    t0 = time.perf_counter()
    survivors = dedup.apply_dedup(docs, pairs, id_col="doc_id").count()
    out["timings"]["apply_dedup"] = round(time.perf_counter() - t0, 2)
    out["n_survivors"] = survivors

    # incremental ingest shape: 10% of docs arrive as a new batch, the rest
    # is an already-indexed corpus (band table persisted, as in production)
    from pyspark.sql import functions as F2
    new_docs = docs.filter(F2.col("doc_id") % 10 == 0)
    old_docs = docs.filter(F2.col("doc_id") % 10 != 0)
    index = dedup.minhash_band_table(old_docs).persist()
    t0 = time.perf_counter()
    index.count()
    out["timings"]["band_index_build"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    out["n_incremental_pairs"] = dedup.incremental_lsh_pairs(
        new_docs, old_docs, index=index).count()
    out["timings"]["incremental_pairs_10pct"] = round(
        time.perf_counter() - t0, 2)
    index.unpersist()
    # planted dups: ids 20, 40, ... (n_docs // 20 of them, minus id 0's
    # non-existent predecessor handled by base clamp at id -1? id 0 is not
    # a dup since 0 % 20 == 0 maps to base -1 → range() has no -1, but
    # xxhash64(-1) still yields a valid unique text) — expect ≈ n_docs/20
    # pairs and ≈ n_docs - n_docs/20 survivors
    print(json.dumps(out))



def _build_curation_report(docs):
    """The curation-report composition, shared by the pipeline rung and
    the variance probe — same shape as the catalog query: LSH pairs +
    quality projection + contamination join + one groupBy(source)."""
    from funnel_rocket_spark.operators import dedup, text

    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    # persist the tiny pair OUTPUT: dup_ids consumes it twice and the
    # differing pushed projections defeat exchange reuse (same fix as the
    # catalog query)
    pairs = dedup.bounded_persist(
        dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, n=3,
                                threshold=0.5))
    dup_ids = (pairs.select(F.col("id_a").alias("doc_id"))
               .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
               .distinct().withColumn("__dup", F.lit(1)))
    cont_ids = (dedup.ngram_contamination(corpus, evalset, n=5)
                .select("doc_id").withColumn("__cont", F.lit(1)))
    return (corpus.select("doc_id", "source")
            .join(text.quality_score(corpus), "doc_id")
            .join(dup_ids, "doc_id", "left")
            .join(cont_ids, "doc_id", "left")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.avg("quality").alias("mean_quality"),
                 F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
                 .alias("n_near_dup"),
                 F.sum(F.coalesce(F.col("__cont"), F.lit(0)))
                 .alias("n_contaminated")))


def _load_docs(spark, n_docs: int):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"docs_{n_docs}.parquet")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize_docs(spark, n_docs, path)
        print(f"# synthesized {n_docs} docs in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    return spark.read.parquet(path).withColumn(
        "source", F.concat(F.lit("src_"),
                           F.pmod(F.xxhash64("doc_id", F.lit(23)),
                                  F.lit(10)).cast("string")))


def cleanfilters_main(n_docs: int) -> None:
    """Scale rung for the r6 cleaning/training operators: Gopher rules,
    C4 line filter, and 3 perceptron iterations on n_docs synthetic
    documents (sf0.1's table is 5k — run at 100-400×). All three should
    be ~linear: the filters are map-only projections, the perceptron is
    3 × (scan + vocab-bounded exchange)."""
    from funnel_rocket_spark.operators import text

    spark = get_spark(app_name="scale-check-cleanfilters")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_docs(spark, n_docs)

    out = {"n_docs": n_docs, "timings": {}}
    t0 = time.perf_counter()
    n_pass = text.gopher_quality_filter(
        docs, min_words=70, min_stopword_hits=0).where("passes").count()
    out["timings"]["gopher_filter"] = round(time.perf_counter() - t0, 2)
    out["n_gopher_pass"] = n_pass

    t0 = time.perf_counter()
    kept = (text.c4_line_filter(docs, min_words_per_line=70,
                                require_terminal_punct=False)
            .agg(F.sum("n_kept")).collect()[0][0])
    out["timings"]["c4_line_filter"] = round(time.perf_counter() - t0, 2)
    out["n_c4_kept_lines"] = int(kept)

    vocab = [f"w{i}" for i in range(16)]
    t0 = time.perf_counter()
    w, m = text.train_classifier_perceptron(
        docs, F.array_contains(F.split(F.col("text"), r"\s+"), "w7"),
        vocab, iterations=3)
    out["timings"]["perceptron_3iter"] = round(time.perf_counter() - t0, 2)
    out["perceptron_mistakes"] = m

    from funnel_rocket_spark.operators import sampling
    target = docs.filter(F.col("doc_id") % 50 == 0)  # 2% "target" slice
    t0 = time.perf_counter()
    n_sel = sampling.dsir_resample(docs, target, 10_000).count()
    out["timings"]["dsir_score_and_select"] = round(
        time.perf_counter() - t0, 2)
    out["n_dsir_selected"] = n_sel

    # token-budget mixing across the 10 synthetic sources: one tiny
    # strata aggregate + a zero-shuffle md5 gate — should track the
    # corpus scan (≈100 tokens/doc average → budget keeps ~30%)
    weights = {f"src_{i}": 1.0 for i in range(10)}
    t0 = time.perf_counter()
    n_mix = sampling.mixture_sample(
        docs, weights, "source", total_tokens=30 * n_docs).count()
    out["timings"]["mixture_sample"] = round(time.perf_counter() - t0, 2)
    out["n_mixture_kept"] = n_mix

    # r7 CCNet LM gate: two bounded training collects (≤256 unigram,
    # ≤1024 top-bigram rows) + one zero-shuffle scored scan — the same
    # shape (and scaling) as DSIR
    from funnel_rocket_spark.operators.text import lm_nll
    t0 = time.perf_counter()
    n_lm = lm_nll(docs, target).where("avg_nll < 8.0").count()
    out["timings"]["lm_nll_score"] = round(time.perf_counter() - t0, 2)
    out["n_lm_below_8"] = n_lm

    # r7 BPE: in-engine training reduces to the vocabulary-bounded
    # word-frequency table (corpus-size-independent iterations), then
    # the codegen expression apply is a map-only projection
    t0 = time.perf_counter()
    merges = text.learn_bpe(docs, 12)
    out["timings"]["learn_bpe_12"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    n_bpe = (text.bpe_tokenize(docs, merges)
             .agg(F.sum("n_bpe_tokens")).collect()[0][0])
    out["timings"]["bpe_tokenize_expr"] = round(time.perf_counter() - t0, 2)
    out["n_bpe_tokens"] = int(n_bpe)
    print(json.dumps(out))


def report_variance_main(n_docs: int, runs: int = 5) -> None:
    """VERDICT r5 #5: chase the curation_report 2M-doc variance (124-167 s
    spread at identical config). Each run executes inside a
    JobGroupMetrics scope so GC seconds, spill bytes, and peak execution
    memory are attributable per run; prints p50/p90 and the per-run
    decomposition."""
    from funnel_rocket_spark.engine.metrics import JobGroupMetrics

    spark = get_spark(app_name="scale-check-reportvar")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_docs(spark, n_docs)

    samples = []
    for i in range(runs):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        with JobGroupMetrics(spark, f"curation_report run {i}") as jg:
            t0 = time.perf_counter()
            rows = _build_curation_report(docs).collect()
            wall = round(time.perf_counter() - t0, 2)
            snap = jg.snapshot()
        w = snap.get("worker", {})
        s = {"wall_s": wall,
             "gc_s": w.get("jvmGcSeconds"),
             "cpu_s": w.get("executorCpuSeconds"),
             "run_s": w.get("executorRunSeconds"),
             "mem_spill_mb": round((w.get("memorySpilledBytes") or 0) / 2**20),
             "disk_spill_mb": round((w.get("diskSpilledBytes") or 0) / 2**20),
             "peak_exec_mb": round((w.get("peakExecutionMemory") or 0) / 2**20),
             "rows": len(rows)}
        samples.append(s)
        print(f"# run {i}: {s}", file=sys.stderr)
    walls = sorted(x["wall_s"] for x in samples)
    p50 = walls[len(walls) // 2]
    p90 = walls[min(len(walls) - 1, int(0.9 * (len(walls) - 1) + 0.999))]
    print(json.dumps({"n_docs": n_docs, "runs": samples,
                      "p50_s": p50, "p90_s": p90,
                      "p90_over_p50": round(p90 / p50, 3)}))


def pipeline_main(n_docs: int) -> None:
    """Round-4 rung: the heaviest PIPELINE operators at proportional
    document scale (sf0.1's table is 5k docs; the engine rung is 250M
    event rows, so >=2M docs is the matching corpus scale). Times
    exact-substring span detection (the token-window blowup operator),
    the curation-report rollup (LSH pairs + quality projection +
    contamination join + one groupBy(source)), and the 10%%-batch
    incremental ingest against a persisted band index — each the shape a
    daily 100 TB curation run executes."""
    from funnel_rocket_spark.operators import dedup, text

    spark = get_spark(app_name="scale-check-pipeline")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_docs(spark, n_docs)

    out = {"n_docs": n_docs, "timings": {}}

    # 1. ExactSubstr spans: every 20th doc is its predecessor + 1 token,
    # so ~2 * n_docs/20 docs carry near-full-length duplicate spans.
    # Aggregate over EVERY output column — .count() would let Catalyst
    # prune the span-merge expressions out of the measured plan.
    t0 = time.perf_counter()
    span_tot = (text.exact_substring_spans(docs)
                .agg(F.countDistinct("doc_id").alias("d"),
                     F.sum("n_windows").alias("w"),
                     F.sum("span_end").alias("e")).collect()[0])
    out["n_span_docs"] = span_tot["d"]
    out["timings"]["exact_substring_spans"] = round(
        time.perf_counter() - t0, 2)
    print(f"# exact_substring_spans: "
          f"{out['timings']['exact_substring_spans']}s "
          f"({out['n_span_docs']} docs with spans)", file=sys.stderr)

    # Sections are independent jobs in production; don't let one
    # section's persisted frames (the ring keeps up to 16 alive) squeeze
    # the next section's executor memory.
    spark.catalog.clearCache()

    # 2. curation report: same composition as the catalog query
    t0 = time.perf_counter()
    report = _build_curation_report(docs)
    # collect(), NOT count(): count() prunes the agg columns, at which
    # point Catalyst ELIMINATES the distinct-keyed left joins — and the
    # "measured" plan no longer contains the LSH pass at all (2.9 s vs
    # 20.4 s at 100k docs when first observed)
    report_rows = report.collect()
    out["n_report_rows"] = len(report_rows)
    out["timings"]["curation_report"] = round(time.perf_counter() - t0, 2)
    print(f"# curation_report: {out['timings']['curation_report']}s",
          file=sys.stderr)

    spark.catalog.clearCache()

    # 3. incremental ingest: 10% batch vs persisted band index
    new_docs = docs.filter(F.col("doc_id") % 10 == 0)
    old_docs = docs.filter(F.col("doc_id") % 10 != 0)
    index = dedup.minhash_band_table(old_docs).persist()
    t0 = time.perf_counter()
    index.count()
    out["timings"]["band_index_build"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    out["n_incremental_pairs"] = dedup.incremental_lsh_pairs(
        new_docs, old_docs, index=index).count()
    out["timings"]["incremental_pairs_10pct"] = round(
        time.perf_counter() - t0, 2)
    index.unpersist()
    print(f"# incremental 10%: "
          f"{out['timings']['incremental_pairs_10pct']}s "
          f"(index build {out['timings']['band_index_build']}s)",
          file=sys.stderr)
    print(json.dumps(out))


def synthesize_docs_rich(spark, n_docs: int, path: str) -> None:
    """Letter-word corpus for tokenizer-scale BPE training: words are
    base-26 renderings of hashes (3–10 letters, ~200k distinct), so the
    pair space supports tens of thousands of merges instead of the
    10k-numeral vocabulary's ~1.7k."""
    n_tokens = (F.pmod(F.xxhash64("id", F.lit(7)), F.lit(60)) + 40)
    word_id = lambda i: F.pmod(  # noqa: E731
        F.xxhash64(F.col("id"), i.cast("long"), F.lit(13)), F.lit(200_000))
    # base-26 letters, length driven by the word id (3-10 chars)
    def letters(wid):
        ln = F.pmod(wid, F.lit(8)) + 3
        return F.concat_ws(
            "", F.transform(
                F.sequence(F.lit(1), ln.cast("int")),
                lambda k: F.chr(
                    F.lit(97) + F.pmod(F.xxhash64(wid, k.cast("long")),
                                       F.lit(26)))))
    words = F.transform(
        F.sequence(F.lit(1), n_tokens.cast("int")),
        lambda i: letters(word_id(i)))
    (spark.range(n_docs)
     .select(F.col("id").alias("doc_id"),
             F.concat_ws(" ", words).alias("text"))
     .write.mode("overwrite").parquet(path))


def bpetrain_rich_main(n_docs: int, n_merges: int = 32_000) -> None:
    """Round-8 rung: REALISTIC tokenizer training — 32k merges (the
    GPT-2/RoBERTa scale the driver strategy exists for) over a
    letter-word corpus whose pair space doesn't exhaust. One corpus
    pass + one driver loop; per-merge cost stays flat because each
    merge touches only its affected words via the adjacency buckets."""
    from funnel_rocket_spark.operators import text as T

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"docsrich_{n_docs}.parquet")
    spark = get_spark(app_name="scale-check-bpetrain-rich")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize_docs_rich(spark, n_docs, path)
        print(f"# synthesized {n_docs} rich docs in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    docs = spark.read.parquet(path)

    out = {"n_docs": n_docs, "n_merges": n_merges, "timings": {}}
    t0 = time.perf_counter()
    merges = T.learn_bpe(docs, n_merges, min_count=2, strategy="driver",
                         driver_max_vocab=10_000_000)
    out["timings"][f"driver_{n_merges}_merges"] = round(
        time.perf_counter() - t0, 2)
    out["n_learned"] = len(merges)

    # apply the learned table (arrow path beyond the 4096 expr cap) and
    # count tokens — the full train->apply loop a tokenizer build runs
    t0 = time.perf_counter()
    enc = T.bpe_tokenize(docs, merges, strategy="arrow")
    agg = enc.agg(F.count(F.lit(1)), F.sum("n_bpe_tokens")).collect()[0]
    out["timings"]["apply_arrow"] = round(time.perf_counter() - t0, 2)
    out["n_docs_encoded"], out["total_bpe_tokens"] = int(agg[0]), int(agg[1])
    print(json.dumps(out))


def bpetrain_main(n_docs: int, n_merges: int = 1_000) -> None:
    """Round-8 rung: in-engine BPE training at realistic merge counts.
    The driver strategy (one corpus pass + collected word table +
    incremental pair index) is the only shape that works at 32k–50k
    merges — the distributed loop pays one Spark job per merge. Reports
    driver-mode time at ``n_merges`` plus a 64-merge distributed run for
    the per-merge job cost, and asserts the two agree on the first 64."""
    from funnel_rocket_spark.operators import text as T

    spark = get_spark(app_name="scale-check-bpetrain")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_docs(spark, n_docs)

    out = {"n_docs": n_docs, "n_merges": n_merges, "timings": {}}
    t0 = time.perf_counter()
    merges = T.learn_bpe(docs, n_merges, min_count=2, strategy="driver",
                         driver_max_vocab=10_000_000)
    out["timings"][f"driver_{n_merges}_merges"] = round(
        time.perf_counter() - t0, 2)
    out["n_learned"] = len(merges)

    t0 = time.perf_counter()
    dist64 = T.learn_bpe(docs, 64, min_count=2, strategy="distributed")
    out["timings"]["distributed_64_merges"] = round(
        time.perf_counter() - t0, 2)
    assert merges[:64] == dist64, "driver/distributed trainer divergence"
    out["prefix_64_equal"] = True
    print(json.dumps(out))


def curate_main(n_docs: int) -> None:
    """Round-8 rung (r10: now the FULL 15-stage chain, embedding stages
    included): pipeline.run_pipeline end-to-end at corpus scale — the
    one-command product surface — reporting per-stage seconds, then a
    resume-from-kill replay: the state file is truncated to the first
    12 stages (as a crash after stage 12 would leave it) and the chain
    re-run — the green prefix must resume from checkpoints in ~read
    time while only the tail recomputes, and the kmeans/contamination
    artifacts must be REUSED, not retrained (r10: they persist under
    workdir/models like the lm_gate model)."""
    import json as _json
    import shutil

    from funnel_rocket_spark.pipeline import run_pipeline

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spark = get_spark(app_name="scale-check-curate")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_docs(spark, n_docs)
    aux = os.path.join(here, ".scratch", f"curate_aux_{n_docs}")
    inp = os.path.join(aux, "input.parquet")
    eval_path = os.path.join(aux, "eval.parquet")
    target_path = os.path.join(aux, "target.parquet")
    emb_path = os.path.join(aux, "emb.parquet")
    eval_emb_path = os.path.join(aux, "eval_emb.parquet")
    if not os.path.isdir(inp):
        docs.write.mode("overwrite").parquet(inp)
        docs.where(F.col("doc_id") % 97 == 0) \
            .write.mode("overwrite").parquet(eval_path)
        docs.where(F.col("doc_id") % 10 == 3) \
            .write.mode("overwrite").parquet(target_path)
    if not os.path.isdir(emb_path):
        # per-doc embeddings (vec_id = doc_id) with planted near-dups
        # every 50th; the eval embedding suite is benchmark-sized
        # (~n/971 vectors) and a corpus subset, so each eval vector has
        # a planted exact contamination hit
        synthesize_embeddings(spark, n_docs, 64, emb_path)
        (spark.read.parquet(emb_path)
         .where(F.col("vec_id") % 971 == 0)
         .write.mode("overwrite").parquet(eval_emb_path))
    workdir = os.path.join(here, ".scratch", f"curate_work_{n_docs}")
    shutil.rmtree(workdir, ignore_errors=True)

    # All 15 stages. Synthetic docs are stopword-free "wNNN" tokens, so
    # the Gopher gate runs with the stopword rule off (the rule itself
    # is rung-timed in cleanfilters). SemDeDup's k scales cells to
    # ~10k vectors (per-cell GEMM stays block-bounded).
    config = {
        "input": {"path": inp, "id_col": "doc_id", "text_col": "text"},
        "workdir": workdir,
        "stages": [
            {"stage": "c4_clean", "min_words_per_line": 1,
             "require_terminal_punct": False},
            {"stage": "gopher_filter", "min_words": 5,
             "min_stopword_hits": 0, "min_mean_word_len": 1.0},
            {"stage": "dedup_exact"},
            {"stage": "dedup_minhash", "threshold": 0.5},
            {"stage": "dedup_semantic", "embeddings_path": emb_path,
             "k": max(8, n_docs // 10_000), "threshold": 0.985},
            {"stage": "decontaminate", "eval_path": eval_path, "n": 5},
            {"stage": "decontaminate_semantic", "embeddings_path": emb_path,
             "eval_embeddings_path": eval_emb_path, "threshold": 0.99},
            {"stage": "pii"},
            {"stage": "lm_gate", "target_path": target_path,
             "keep_frac": 0.9},
            # explicit-weights scorer (the fasttext-export form): the
            # synthetic vocab has no token present in most docs, so a
            # trained gate would be degenerate — the weights form still
            # pays the full scoring scan, with a threshold that keeps
            # the corpus flowing to the later stages
            {"stage": "classifier_gate",
             "weights": {"w42": 5.0, "w43": 5.0, "w44": 5.0},
             "threshold": -0.001},
            {"stage": "bpe_count", "learn": 24, "keep_bpe_text": True},
            {"stage": "mixture",
             "weights": {f"src_{i}": 1.0 for i in range(10)},
             "strata_col": "source", "total_tokens": 50_000_000,
             "token_col": "n_bpe_tokens"},
            {"stage": "dsir", "target_path": target_path, "n": 100_000},
            {"stage": "split",
             "weights": {"train": 0.9, "val": 0.05, "test": 0.05}},
            {"stage": "pack", "block_size": 512, "shards": 32,
             "pretokenized": True},
        ],
    }
    t0 = time.perf_counter()
    rep = run_pipeline(spark, config)
    total = round(time.perf_counter() - t0, 2)
    out = {"n_docs": n_docs, "total_seconds": total,
           "rows_in": rep["rows_in"], "rows_out": rep["rows_out"],
           "stages": [{"stage": s["stage"], "rows_out": s["rows_out"],
                       "seconds": s.get("seconds")}
                      for s in rep["stages"]]}

    # resume-from-kill: crash after stage 12 = state.json holds 12
    # entries; the rerun must resume 0-11 from checkpoints and recompute
    # only dsir/split/pack
    state_path = os.path.join(workdir, "state.json")
    with open(state_path) as fh:
        state = _json.load(fh)
    state["stages"] = state["stages"][:12]
    with open(state_path, "w") as fh:
        _json.dump(state, fh)
    t0 = time.perf_counter()
    rep2 = run_pipeline(spark, config)
    out["resume_after_kill_seconds"] = round(time.perf_counter() - t0, 2)
    out["resumed_stages"] = sum(1 for s in rep2["stages"] if s["resumed"])
    out["recomputed_stages"] = sum(
        1 for s in rep2["stages"] if not s["resumed"])
    assert out["resumed_stages"] == 12 and out["recomputed_stages"] == 3
    assert rep2["rows_out"] == rep["rows_out"]
    # embedding artifacts trained exactly once across both runs
    out["kmeans_artifacts"] = len(glob.glob(
        os.path.join(workdir, "models", "kmeans_*.json")))
    out["contam_artifacts"] = len(glob.glob(
        os.path.join(workdir, "models", "contam_*.parquet")))
    assert out["kmeans_artifacts"] == 1 and out["contam_artifacts"] == 1
    print(_json.dumps(out))


def lmjoin_main(n_docs: int, n_buckets: int = 65_536,
                top_bigrams: int = 200_000) -> None:
    """Round-8 rung: CCNet-grade LM scoring through the broadcast-join
    path — a model an order of magnitude past the literal-map caps
    (default 64k buckets / 200k bigrams), trained on a 10% slice and
    scored over the whole corpus. Also times the capped literal-map
    model for the small-model baseline."""
    from funnel_rocket_spark.operators import text as T

    spark = get_spark(app_name="scale-check-lmjoin")
    spark.sparkContext.setLogLevel("ERROR")
    docs = _load_docs(spark, n_docs)
    target = docs.where(F.col("doc_id") % 10 == 0)

    out = {"n_docs": n_docs, "n_buckets": n_buckets,
           "top_bigrams": top_bigrams, "timings": {}}
    t0 = time.perf_counter()
    model = T.lm_bigram_model(target, n_buckets=n_buckets,
                              top_bigrams=top_bigrams)
    out["timings"]["train"] = round(time.perf_counter() - t0, 2)
    out["n_bigrams_learned"] = len(model["bi"])

    t0 = time.perf_counter()
    scored = T.lm_score(docs, model, strategy="join")
    agg = scored.agg(F.count(F.lit(1)), F.sum("n_tokens"),
                     F.avg("avg_nll")).collect()[0]
    out["timings"]["score_join"] = round(time.perf_counter() - t0, 2)
    out["n_scored"], out["total_tokens"] = int(agg[0]), int(agg[1])
    out["mean_avg_nll"] = round(float(agg[2]), 4)

    t0 = time.perf_counter()
    small = T.lm_bigram_model(target, n_buckets=1024, top_bigrams=2000)
    T.lm_score(docs, small, strategy="map") \
        .agg(F.count(F.lit(1))).collect()
    out["timings"]["small_model_map_baseline"] = round(
        time.perf_counter() - t0, 2)

    # frames-native trainer at the same capacity: the model tables never
    # leave the cluster (two vocabulary-bounded aggregates, zero driver
    # collect) — train + score should track the dict trainer's numbers
    # while removing its collect bound entirely
    t0 = time.perf_counter()
    mf = T.lm_bigram_model_frames(target, n_buckets=n_buckets,
                                  top_bigrams=top_bigrams)
    out["timings"]["train_frames"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    agg_f = (T.lm_score(docs, mf)
             .agg(F.count(F.lit(1)), F.avg("avg_nll")).collect()[0])
    out["timings"]["score_frames"] = round(time.perf_counter() - t0, 2)
    out["mean_avg_nll_frames"] = round(float(agg_f[1]), 4)
    print(json.dumps(out))


def kmeans_main(n_vecs: int, dim: int = 64) -> None:
    """Semantic-dedup-at-scale evidence: deterministic Lloyd's k-means
    timing per round, then SemDeDup within-cell pair recall on the planted
    (i-1, i) near-dup pairs — measuring how much recall data-following
    cells retain vs the random-hyperplane LSH table above, at matched
    cost. Cells are sized via k so the per-cell GEMM stays bounded
    (~n/k vectors per cell)."""
    from funnel_rocket_spark.operators import similarity

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"emb_{n_vecs}.parquet")
    spark = get_spark(app_name="scale-check-kmeans")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize_embeddings(spark, n_vecs, dim, path)
        print(f"# synthesized {n_vecs} vectors in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    emb = spark.read.parquet(path)

    out = {"n_vecs": n_vecs, "dim": dim, "timings": {}, "recall": {}}
    n_planted = (n_vecs - 1) // 50

    k = max(8, n_vecs // 8192)  # ~8k vectors/cell → ~64 MB GEMM blocks
    t0 = time.perf_counter()
    assigned, _ = similarity.kmeans_lloyd(emb, k=k, rounds=2)
    assigned.persist().count()
    out["timings"][f"kmeans_k{k}_r2"] = round(time.perf_counter() - t0, 2)
    print(f"# kmeans k={k} rounds=2: {out['timings'][f'kmeans_k{k}_r2']}s",
          file=sys.stderr)

    t0 = time.perf_counter()
    pairs = similarity.semantic_dedup_pairs(emb, k=k, rounds=2,
                                            threshold=0.99)
    found = pairs.filter((F.col("id_b") - F.col("id_a") == 1)
                         & (F.pmod("id_b", F.lit(50)) == 0)).count()
    out["timings"][f"semantic_pairs_k{k}"] = round(
        time.perf_counter() - t0, 2)
    out["recall"][f"semantic_k{k}_planted"] = round(found / n_planted, 3)
    print(f"# semantic k={k}: {out['timings'][f'semantic_pairs_k{k}']}s "
          f"planted-recall={out['recall'][f'semantic_k{k}_planted']}",
          file=sys.stderr)
    print(json.dumps(out))



def _gc_between_runs(spark) -> None:
    """Untimed inter-run cleanup, same hygiene as bench.py's loop (r12;
    without it the whale rung's uniform stream showed a MONOTONIC
    within-stream slowdown — identical window plans 8.5 s early in a
    round vs 33 s late — from accumulated GC debt, orphaned persisted
    frames, and shuffle state that the ContextCleaner only reclaims on
    a collection): drop any cached frames the plan paths persisted,
    then collect JVM garbage so the next timed run starts from a clean
    heap and the cleaner has released old shuffle files."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


# The whale rungs' four query shapes. maxDuration is a 30-day bound over
# the 90-day stream (nanos), so it splits groups.
WHALE_SEQ_STEPS = [("signup", True), ("click", True), ("purchase", True)]
WHALE_ABSENCE_STEPS = [("signup", True), ("error", False),
                       ("purchase", True)]
WHALE_FUNNEL_STEPS = [("view", True), ("click", True), ("purchase", True)]
WHALE_MAX_DURATION = 30 * NANOS_DAY


def _steps_json(steps) -> list[dict]:
    return [{"filter": ["event_type", "==", t]} if found
            else {"filter": ["event_type", "==", t], "rowFound": False}
            for t, found in steps]


WHALE_SHAPES = {
    "sequence_3step": (WHALE_SEQ_STEPS, None, {"query": {"conditions": [
        {"sequence": _steps_json(WHALE_SEQ_STEPS)}]}}),
    "sequence_maxdur": (WHALE_SEQ_STEPS, WHALE_MAX_DURATION,
                        {"query": {"conditions": [
                            {"sequence": _steps_json(WHALE_SEQ_STEPS),
                             "maxDuration": WHALE_MAX_DURATION}]}}),
    "sequence_absence": (WHALE_ABSENCE_STEPS, None,
                         {"query": {"conditions": [
                             {"sequence": _steps_json(
                                 WHALE_ABSENCE_STEPS)}]}}),
    "funnel_aggs": (WHALE_FUNNEL_STEPS, None, {"query": {}, "funnel": {
        "sequence": _steps_json(WHALE_FUNNEL_STEPS),
        "stepAggregations": [{"column": "event_type",
                              "type": "countPerValue"}],
        "endAggregations": [{"column": "event_type",
                             "type": "sumPerValue",
                             "otherColumn": "value"}]}}),
}


def _matched_groups(result: dict) -> list[int]:
    """Groups passing each funnel step, or the sequence's matched groups
    as a one-element list."""
    if result.get("funnel"):
        return [s["matchingGroups"] for s in result["funnel"]["sequence"]]
    return [result["query"]["matchingGroups"]]


def _duckdb_step_groups(con, path: str, steps, max_duration=None,
                        funnel: bool = False) -> list[int]:
    """The same per-step group counts from DuckDB over the same parquet:
    the reference's iterated-min recurrence as chained SQL aggregates
    (anchor = min ts of the step's rows strictly after the previous
    anchor; an absence step passes iff no such row exists and carries
    the anchor over). Steps after the first must also lie within
    ``max_duration`` of the first anchor. The first step must be a
    found step."""
    assert steps[0][1], "first step must be rowFound"
    dur = (f" AND e.ts <= p.f + {int(max_duration)}"
           if max_duration is not None else "")
    ctes = [f"s0 AS (SELECT user_id, min(ts) a, min(ts) f FROM ev "
            f"WHERE event_type = '{steps[0][0]}' GROUP BY 1)"]
    for i, (etype, found) in enumerate(steps[1:], start=1):
        scope = (f"e.user_id = p.user_id AND e.event_type = '{etype}' "
                 f"AND e.ts > p.a{dur}")
        if found:
            ctes.append(
                f"s{i} AS (SELECT p.user_id, min(e.ts) a, any_value(p.f) f "
                f"FROM s{i - 1} p JOIN ev e ON {scope} GROUP BY 1)")
        else:
            ctes.append(
                f"s{i} AS (SELECT * FROM s{i - 1} p WHERE NOT EXISTS "
                f"(SELECT 1 FROM ev e WHERE {scope}))")
    idx = range(len(steps)) if funnel else [len(steps) - 1]
    sql = (f"CREATE OR REPLACE VIEW ev AS SELECT * FROM read_parquet("
           f"'{path}/*.parquet');\n"
           "WITH " + ",\n".join(ctes) + "\nSELECT "
           + ", ".join(f"(SELECT count(*) FROM s{i})" for i in idx))
    return [int(v) for v in con.sql(sql).fetchone()]


def whale_main(n_rows: int, whale_share: float = 0.2) -> None:
    """WHALE-GROUP skew for the per-group sequence/funnel paths. Window
    anchors partition by group, so one bot group holding ``whale_share``
    of a 100M-row stream serializes into a single task — the reference
    had the same property (group-per-file invariant), but the engine
    should PROVE the behavior rather than assume it: the partition sort
    is an EXTERNAL sort (spills, finishes).

    Prints timings for each shape on (uniform, whale) streams of the
    same size and the skew factor (whale/uniform). Same hygiene as
    every rung here: one untimed warm-up pass per stream, every shape
    run twice (the second pass in reversed order), min-of-2 reported,
    max/min spread printed."""
    n_groups = max(1, n_rows // 100)  # mean group ≈ 100 events
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    upath = os.path.join(here, ".scratch",
                         f"events_{n_rows}_{n_groups}.parquet")
    wpath = os.path.join(here, ".scratch",
                         f"events_whale_{n_rows}_{whale_share}.parquet")

    spark = get_spark(app_name="scale-check-whale",
                      extra_conf={"spark.driver.memory": os.environ.get(
                          "SPARK_DRIVER_MEM", "16g")})
    spark.sparkContext.setLogLevel("ERROR")
    for path, share in ((upath, None), (wpath, whale_share)):
        if not os.path.exists(path):
            t0 = time.perf_counter()
            synthesize(spark, n_rows, n_groups, path, whale_share=share)
            print(f"# synthesized {path}: {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)

    eng = QueryEngine("user_id", "ts")
    out = {"n_rows": n_rows, "whale_share": whale_share,
           "n_groups": n_groups, "timings": {}, "timings_runs": {},
           "timing_spread": {}, "matched_groups": {}}
    for dist, path in (("uniform", upath), ("whale", wpath)):
        ev = spark.read.parquet(path)
        if dist == "whale":
            out["whale_rows"] = ev.filter(F.col("user_id") == -1).count()
        ev.groupBy("event_type").agg(
            F.count(F.lit(1)), F.max("ts"), F.max("user_id"),
            F.max("event_id")).collect()  # warm-up: page cache + codegen
        names = list(WHALE_SHAPES)
        for rnd, order in enumerate((names, list(reversed(names)))):
            for name in order:
                key = f"{dist}.{name}"
                t0 = time.perf_counter()
                res = eng.run(ev, WHALE_SHAPES[name][2])
                t = round(time.perf_counter() - t0, 2)
                _gc_between_runs(spark)
                out["timings_runs"].setdefault(key, []).append(t)
                out["matched_groups"][key] = _matched_groups(res)
                print(f"# run{rnd} {key}: {t}s", file=sys.stderr)
    for key, runs in out["timings_runs"].items():
        out["timings"][key] = min(runs)
        out["timing_spread"][key] = round(max(runs) / max(min(runs), 0.01),
                                          2)
    out["skew_factor"] = {
        name: round(out["timings"][f"whale.{name}"]
                    / max(out["timings"][f"uniform.{name}"], 0.01), 2)
        for name in WHALE_SHAPES}
    print(json.dumps(out))


def _spill_path(n_rows: int, whale_share: float) -> str:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(here, ".scratch",
                        f"events_whale_{n_rows}_{whale_share}_spill.parquet")


def _spill_session(driver_mem: str):
    spark = get_spark(app_name="scale-check-whale-spill", master="local[4]",
                      shuffle_partitions=4,
                      extra_conf={"spark.driver.memory": driver_mem})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def whale_spill_shapes_main(n_rows: int, whale_share: float,
                            driver_mem: str, names: list[str]) -> None:
    """Child process of :func:`whale_spill_main`: run ``names`` back to
    back in ONE fresh JVM and print one JSON record per shape (seconds,
    memory and disk spill, failed tasks, matched groups, or the error)."""
    spark = _spill_session(driver_mem)
    ev = spark.read.parquet(_spill_path(n_rows, whale_share))
    eng = QueryEngine("user_id", "ts")
    for name in names:
        rec: dict = {"shape": name}
        t0 = time.perf_counter()
        try:
            res = eng.run(ev, WHALE_SHAPES[name][2], with_stats=True)
        except Exception as e:  # noqa: BLE001 — recorded, not raised
            # an OOM kills the JVM: later shapes record their own errors
            res, rec["error"] = None, str(e)[:300]
        rec["seconds"] = round(time.perf_counter() - t0, 1)
        if res is not None:
            st = res["stats"]
            rec["memory_spill_bytes"] = st["worker"]["memorySpilledBytes"]
            rec["disk_spill_bytes"] = st["worker"]["diskSpilledBytes"]
            rec["failed_tasks"] = st["invoker"]["failedTasks"]
            rec["matched_groups"] = _matched_groups(res)
            _gc_between_runs(spark)
        print(json.dumps(rec), flush=True)


def whale_spill_main(n_rows: int, whale_share: float = 0.75,
                     driver_mem: str = "1g",
                     out_path: str | None = None) -> None:
    """The whale rung under MEMORY PRESSURE: one group holds
    ``whale_share`` of an ``n_rows`` stream (the rest spread over
    ``n_rows / 200`` other groups) and the driver JVM — which hosts the
    local executors — gets only ``driver_mem``, so the whale's window
    partition sort and window buffer cannot fit and must spill. Runs on
    ``local[4]`` with 4 shuffle partitions.

    Each of the four whale shapes runs once through ``QueryEngine.run``
    with stats in its own fresh JVM (``shapes``), then all four run back
    to back in one JVM (``one_jvm``), each pass in a child process so an
    out-of-memory crash is recorded rather than fatal. Records seconds,
    memory and disk spill, failed tasks, and the matched-group counts
    next to DuckDB's over the same parquet (per step for the funnel).
    Writes ``tools/rung_whale_spill.json`` (or ``out_path``)."""
    import subprocess

    import duckdb

    n_groups = max(1, n_rows // 200)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = _spill_path(n_rows, whale_share)
    out_path = out_path or os.path.join(here, "tools",
                                        "rung_whale_spill.json")
    spark = _spill_session(driver_mem)
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize(spark, n_rows, n_groups, path, whale_share=whale_share)
        print(f"# synthesized {path}: {time.perf_counter()-t0:.1f}s",
              file=sys.stderr)
    whale_rows = (spark.read.parquet(path)
                  .filter(F.col("user_id") == -1).count())
    version = spark.version
    spark.stop()

    con = duckdb.connect()
    con.sql("SET memory_limit = '2GB'")
    con.sql("SET threads = 2")
    want = {name: _duckdb_step_groups(con, path, steps, max_dur,
                                      funnel="funnel" in q)
            for name, (steps, max_dur, q) in WHALE_SHAPES.items()}

    def run_child(names: list[str]) -> dict:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "whalespill",
             str(n_rows), str(whale_share), driver_mem, ",".join(names)],
            capture_output=True, text=True)
        recs = {}
        for ln in proc.stdout.splitlines():
            if ln.startswith("{"):
                rec = json.loads(ln)
                recs[rec.pop("shape")] = rec
        for name in names:
            rec = recs.setdefault(name, {
                "error": f"child exited {proc.returncode} first"})
            rec["duckdb_groups"] = want[name]
            rec["match"] = rec.get("matched_groups") == want[name]
            print(f"# {name}: {rec}", file=sys.stderr)
        return recs

    def completed(recs: dict) -> bool:
        return all("error" not in r and r["failed_tasks"] == 0
                   and r["match"] for r in recs.values())

    mem_kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
    out = {"n_rows": n_rows, "whale_share": whale_share,
           "other_groups": n_groups, "whale_rows": whale_rows,
           "host": {"cpus": os.cpu_count(),
                    "mem_gb": round(mem_kb / 2**20, 1)},
           "spark": {"master": "local[4]", "driver_memory": driver_mem,
                     "shuffle_partitions": 4, "version": version},
           "shapes": {}, "one_jvm": {}}
    for name in WHALE_SHAPES:
        out["shapes"].update(run_child([name]))
    out["one_jvm"] = run_child(list(WHALE_SHAPES))
    out["all_completed_and_match"] = completed(out["shapes"])
    out["one_jvm_completed_and_match"] = completed(out["one_jvm"])
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=2)
        fh.write("\n")
    print(json.dumps(out))


def bucketed_main(n_rows: int, whale_share: float = 0.2) -> None:
    """r12 rung: the DECLARED-LAYOUT preference (VERDICT r11 ask #7).

    On a ``bucketBy(group) sortBy(group, ts)`` table (one file per
    bucket — ``sources.write_bucketed`` aligns it) the scan itself
    delivers the distribution + ordering every per-group plan needs, so:

    (a) the window-anchor sequence pass runs with NO exchange and NO
        sort — measured here against the same plan on plain parquet, on
        uniform AND whale streams;
    (b) the row universe's matched-count threshold stops mattering —
        the window flags pass is compared against the semi join at a
        SELECTIVE (~2% of groups) and a BROAD (~75%) matched set. If
        window <= join at both ends, the engine's unconditional
        sorted-layout window universe is justified.

    Same measurement hygiene as the whale rung: untimed warm-up, every
    combo run twice (second pass in reversed order), min-of-2 reported,
    max/min spread printed.
    """
    n_groups = max(1, n_rows // 100)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    upath = os.path.join(here, ".scratch",
                         f"events_{n_rows}_{n_groups}.parquet")
    wpath = os.path.join(here, ".scratch",
                         f"events_whale_{n_rows}_{whale_share}.parquet")
    spark = get_spark(app_name="scale-check-bucketed", extra_conf={
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
        "spark.sql.warehouse.dir": os.path.join(here, ".scratch",
                                                "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    for path, share in ((upath, None), (wpath, whale_share)):
        if not os.path.exists(path):
            t0 = time.perf_counter()
            synthesize(spark, n_rows, n_groups, path, whale_share=share)
            print(f"# synthesized {path}: {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)

    from funnel_rocket_spark.plans import count_exchanges, count_sorts
    from funnel_rocket_spark.sources.ingest import write_bucketed

    n_buckets = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    tables = {}
    for dist, path in (("uniform", upath), ("whale", wpath)):
        tbl = f"events_bkt_{dist}_{n_rows}"
        if not spark.catalog.tableExists(tbl):
            t0 = time.perf_counter()
            write_bucketed(spark.read.parquet(path), tbl, "user_id",
                           num_buckets=n_buckets, sort_col="ts")
            print(f"# bucketed {tbl}: {time.perf_counter()-t0:.1f}s",
                  file=sys.stderr)
        tables[dist] = tbl

    eng = QueryEngine("user_id", "ts")
    seq_q = {"query": {"conditions": [
        {"sequence": [{"filter": ["event_type", "==", "signup"]},
                      {"filter": ["event_type", "==", "click"]},
                      {"filter": ["event_type", "==", "purchase"]}]}]}}
    out = {"n_rows": n_rows, "n_buckets": n_buckets, "timings": {},
           "timings_runs": {}, "timing_spread": {}, "results": {},
           "plan_gates": {}}

    # -------- (a) window anchors on the declared layout vs parquet ----- #
    for dist in ("uniform", "whale"):
        bdf = spark.table(tables[dist])
        pdf = spark.read.parquet(upath if dist == "uniform" else wpath)
        variants = {
            "window_layout": lambda: eng.plan(bdf, seq_q),
            "window_parquet": lambda: eng.plan(pdf, seq_q),
        }
        # plan gates, recorded in the rung itself: the layout plan must
        # be sort-free and single-exchange
        gate = eng.plan(bdf, seq_q)
        out["plan_gates"][f"{dist}.sorts"] = count_sorts(gate.counts())
        out["plan_gates"][f"{dist}.exchanges"] = \
            count_exchanges(gate.counts())

        def run_once(name):
            plan = variants[name]()
            t0 = time.perf_counter()
            res = sorted(map(tuple, plan.counts().collect()))
            elapsed = round(time.perf_counter() - t0, 2)
            _gc_between_runs(spark)
            return elapsed, res

        # warm-up: page-cache + codegen, untimed
        bdf.groupBy("event_type").agg(F.count(F.lit(1)), F.max("ts"),
                                      F.max("user_id")).collect()
        pdf.groupBy("event_type").agg(F.count(F.lit(1))).collect()
        run_once("window_layout")
        order = list(variants)
        for rnd, names in enumerate((order, list(reversed(order)))):
            for name in names:
                key = f"{dist}.seq.{name}"
                t, res = run_once(name)
                out["timings_runs"].setdefault(key, []).append(t)
                out["results"][key] = res
                print(f"# run{rnd} {key}: {t}s", file=sys.stderr)
        for key, runs in out["timings_runs"].items():
            if key.startswith(f"{dist}.seq."):
                out["timings"][key] = min(runs)
                out["timing_spread"][key] = round(
                    max(runs) / max(min(runs), 0.01), 2)
        vals = [out["results"][f"{dist}.seq.{n}"] for n in order]
        out[f"equal.{dist}"] = all(v == vals[0] for v in vals)

    # -------- (b) universe strategies at two matched-set sizes -------- #
    # selective: >= 25 purchases (mean 12.5/group -> few % of groups);
    # broad: >= 1 purchase (~all groups)
    bdf = spark.table(tables["uniform"])
    for sel, bound in (("selective", 25), ("broad", 1)):
        agg_q = {"query": {
            "conditions": [{"filter": ["event_type", "==", "purchase"],
                            "target": ["count", ">=", bound]}],
            "aggregations": [{"type": "sumPerValue",
                              "column": "event_type",
                              "otherColumn": "value"}]}}
        plan = eng.plan(bdf, agg_q)
        matched = plan.matched_groups()
        matched.persist()
        n_match = matched.count()
        out[f"universe.{sel}.matched_groups"] = n_match

        def run_universe(strategy):
            labeled = plan.labeled(strategy, matched=matched)
            agg = plan.aggregation_df(
                agg_q["query"]["aggregations"][0], labeled, [0])
            t0 = time.perf_counter()
            res = sorted(map(tuple, agg.collect()))
            elapsed = round(time.perf_counter() - t0, 2)
            _gc_between_runs(spark)
            return elapsed, res

        strategies = ("join", "window")
        run_universe("window")  # warm-up
        for rnd, names in enumerate((strategies,
                                     tuple(reversed(strategies)))):
            for name in names:
                key = f"universe.{sel}.{name}"
                t, res = run_universe(name)
                out["timings_runs"].setdefault(key, []).append(t)
                out["results"][key] = res
                print(f"# run{rnd} {key}: {t}s", file=sys.stderr)
        for key, runs in out["timings_runs"].items():
            if key.startswith(f"universe.{sel}."):
                out["timings"][key] = min(runs)
                out["timing_spread"][key] = round(
                    max(runs) / max(min(runs), 0.01), 2)
        vals = [out["results"][f"universe.{sel}.{n}"] for n in strategies]
        out[f"equal.universe.{sel}"] = all(v == vals[0] for v in vals)
        matched.unpersist()

    out["window_vs_join"] = {
        sel: round(out["timings"][f"universe.{sel}.window"]
                   / max(out["timings"][f"universe.{sel}.join"], 0.01), 2)
        for sel in ("selective", "broad")}
    out["layout_vs_parquet"] = {
        dist: round(out["timings"][f"{dist}.seq.window_layout"]
                    / max(out["timings"][f"{dist}.seq.window_parquet"],
                          0.01), 2)
        for dist in ("uniform", "whale")}
    del out["results"]
    print(json.dumps(out))


def universe_main(n_rows: int) -> None:
    """The MANY-GROUPS-MATCH row universe: the join-free windowed
    universe (the engine's pick past ``UNIVERSE_WINDOW_THRESHOLD``)
    against the sort-merge semi join it replaces, on an aggregation
    query whose sequence condition matches most groups."""
    n_groups = max(1, n_rows // 100)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch",
                        f"events_{n_rows}_{n_groups}.parquet")
    spark = get_spark(app_name="scale-check-universe",
                      extra_conf={"spark.driver.memory": os.environ.get(
                          "SPARK_DRIVER_MEM", "16g")})
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize(spark, n_rows, n_groups, path)
        print(f"# synthesized {path}: {time.perf_counter()-t0:.1f}s",
              file=sys.stderr)
    ev = spark.read.parquet(path)

    # ~100 events/group: a 2-step view→click sequence matches nearly
    # every group — exactly the shape where the semi join stops
    # broadcasting
    q = {"query": {"conditions": [
        {"sequence": [{"filter": ["event_type", "==", "view"]},
                      {"filter": ["event_type", "==", "click"]}]}],
        "aggregations": [{"column": "event_type", "type": "countPerValue",
                          "top": 10}]}}
    thresholds = {"window_universe": 0, "join_universe": 2**62}
    default_threshold = engine_mod.UNIVERSE_WINDOW_THRESHOLD
    out = {"n_rows": n_rows, "n_groups": n_groups, "timings": {},
           "universe": {}}
    results = {}
    for name, threshold in thresholds.items():
        engine_mod.UNIVERSE_WINDOW_THRESHOLD = threshold
        eng = QueryEngine("user_id", "ts")
        res = eng.run(ev, q, with_stats=True)
        results[name] = res["query"]
        out["universe"][name] = res["stats"]["strategies"]["universe"]
        t0 = time.perf_counter()
        res = eng.run(ev, q)
        out["timings"][name] = round(time.perf_counter() - t0, 2)
        engine_mod.UNIVERSE_WINDOW_THRESHOLD = default_threshold
        out["matched_groups"] = res["query"]["matchingGroups"]
        print(f"# {name}: {out['timings'][name]}s "
              f"(universe={out['universe'][name]})", file=sys.stderr)
    vals = list(results.values())
    out["equal"] = all(v == vals[0] for v in vals)
    w = out["timings"]["window_universe"]
    j = out["timings"]["join_universe"]
    out["join_vs_window"] = round(j / w, 2) if w else None
    out["match_fraction"] = round(out["matched_groups"] / n_groups, 3)
    print(json.dumps(out))


def concurrent_main(n_rows: int, n_threads: int = 8,
                    scheduler: str = "fair") -> None:
    """Round-12 rung: MULTI-TENANT SERVING. The reference serves many
    queries at once (each HTTP request fans out its own Lambda tasks);
    the Spark engine's equivalent is one shared SparkSession in FAIR
    scheduler mode with one on-demand scheduler pool per in-flight query
    — exactly what ``api.py`` does per request.
    This rung PROVES that shape at scale:

    - correctness under concurrency: every result dict from the
      threaded run equals the serial run's (same engine, same shared
      session the API server uses);
    - throughput: wall-clock for the same 16-query mixed workload,
      serial vs 4 vs ``n_threads`` threads — overlap hides driver-side
      planning + the low-parallelism tail stages of each query;
    - fairness: per-query latency inflation vs serial (a short count
      query stuck behind two whale sequence sorts is the FIFO failure
      mode FAIR pools exist to prevent) — reported per query.

    ``scheduler="fifo"`` runs the identical workload under default FIFO
    job scheduling (scheduler mode is context-level, so the A/B needs
    two processes) — the delta isolates what FAIR pools buy: under FIFO
    a short count query enqueued behind two whale sequence sorts waits
    for their stages; under FAIR its pool gets a fair share of cores
    immediately, trading whale latency for short-query latency.
    """
    import threading
    from concurrent.futures import ThreadPoolExecutor

    n_groups = max(1, n_rows // 100)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch",
                        f"events_{n_rows}_{n_groups}.parquet")
    fair = scheduler.lower() == "fair"
    spark = get_spark(app_name=f"scale-check-concurrent-{scheduler}",
                      fair_scheduler=fair,
                      extra_conf={"spark.driver.memory": os.environ.get(
                          "SPARK_DRIVER_MEM", "16g")})
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark.sparkContext.getConf().get("spark.scheduler.mode", "FIFO")
    assert mode == ("FAIR" if fair else "FIFO"), \
        f"rung requires a fresh context ({mode=} vs requested {scheduler})"
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize(spark, n_rows, n_groups, path)
        print(f"# synthesized {path}: {time.perf_counter()-t0:.1f}s",
              file=sys.stderr)

    eng = QueryEngine("user_id", "ts")
    queries = {
        "count3": {"query": {"conditions": [
            {"filter": ["event_type", "==", "purchase"],
             "target": ["count", ">=", 3]}]}},
        "sum_target": {"query": {"conditions": [
            {"filter": ["event_type", "==", "purchase"],
             "target": ["sum", "value", ">", 900.37]}]}},
        "zero_err": {"query": {"conditions": [
            {"filter": ["event_type", "==", "error"],
             "target": ["count", "==", 0]}]}},
        "seq3": {"query": {"conditions": [
            {"sequence": [{"filter": ["event_type", "==", "signup"]},
                          {"filter": ["event_type", "==", "click"]},
                          {"filter": ["event_type", "==", "purchase"]}]}]}},
        "seq_maxdur": {"query": {"conditions": [
            {"sequence": [{"filter": ["event_type", "==", "signup"]},
                          {"filter": ["event_type", "==", "click"]},
                          {"filter": ["event_type", "==", "purchase"]}],
             "maxDuration": 30 * NANOS_DAY}]}},
        "funnel": {"query": {}, "funnel": {"sequence": [
            {"filter": ["event_type", "==", "view"]},
            {"filter": ["event_type", "==", "purchase"]}]}},
        "per_value": {"query": {"aggregations": [
            {"column": "event_type", "type": "countPerValue", "top": 8},
            {"column": "event_type", "type": "sumPerValue",
             "otherColumn": "value", "top": 8}]}},
        "relation": {"query": {
            "relation": "$0 and $1",
            "conditions": [
                {"filter": ["event_type", "==", "purchase"],
                 "target": ["count", ">=", 2]},
                {"filter": ["event_type", "==", "error"],
                 "target": ["count", "==", 0]}]}},
    }
    # 16 tasks: the 8 distinct shapes, each submitted twice — the repeat
    # exercises concurrent IDENTICAL plans (shared cache-manager entries,
    # racing persist/unpersist on equal matched frames)
    tasks = [(f"{name}#{i}", name, q)
             for i in (0, 1) for name, q in queries.items()]

    def run_task(name, q):
        df = spark.read.parquet(path)
        t0 = time.perf_counter()
        res = eng.run(df, q)
        return time.perf_counter() - t0, res

    out = {"n_rows": n_rows, "n_groups": n_groups,
           "scheduler": mode, "n_tasks": len(tasks),
           "timings": {}, "latency": {}}

    # warm-up: page cache + codegen for every query shape (untimed),
    # same hygiene as the whale rung
    t0 = time.perf_counter()
    for name, q in queries.items():
        run_task(name, q)
    print(f"# warm-up {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    # serial baseline on the base session
    serial_results: dict = {}
    serial_lat: dict[str, float] = {}
    t0 = time.perf_counter()
    for task_id, name, q in tasks:
        dt, res = run_task(name, q)
        serial_lat[task_id] = round(dt, 2)
        serial_results[task_id] = res
        _gc_between_runs(spark)
    out["timings"]["serial"] = round(time.perf_counter() - t0, 2)
    out["latency"]["serial"] = serial_lat

    def worker(task_id, name, q, results, lats):
        # the API server's per-request shape: a pool tag established ON
        # THIS THREAD (local properties are thread-local)
        spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", f"frs-{task_id}")
        try:
            dt, res = run_task(name, q)
            results[task_id] = res
            lats[task_id] = round(dt, 2)
        finally:
            spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", None)

    for nt in sorted({4, n_threads}):
        results: dict = {}
        lats: dict[str, float] = {}
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=nt) as pool:
            futs = [pool.submit(worker, tid, name, q, results, lats)
                    for tid, name, q in tasks]
            for f in futs:
                f.result()
        out["timings"][f"threads_{nt}"] = round(time.perf_counter() - t0, 2)
        out["latency"][f"threads_{nt}"] = dict(sorted(lats.items()))
        out[f"equal_threads_{nt}"] = all(
            results[tid] == serial_results[tid] for tid, _, _ in tasks)
        _gc_between_runs(spark)

    out["speedup_4"] = round(out["timings"]["serial"]
                             / out["timings"]["threads_4"], 2)
    out[f"speedup_{n_threads}"] = round(
        out["timings"]["serial"] / out["timings"][f"threads_{n_threads}"], 2)
    # fairness: per-task latency inflation at max concurrency (wall time
    # while sharing the machine with n_threads-1 other queries). Split
    # short tasks from whales — FIFO's failure mode is SHORT queries
    # inheriting whale latency, so that's where FAIR must show up.
    lat_hi = out["latency"][f"threads_{n_threads}"]
    inflation = sorted(lat_hi[t] / serial_lat[t] for t in lat_hi
                       if serial_lat.get(t, 0) > 0.05)
    out["latency_inflation_median"] = round(
        inflation[len(inflation) // 2], 2) if inflation else None
    out["latency_inflation_max"] = round(inflation[-1], 2) \
        if inflation else None
    cut = sorted(serial_lat.values())[len(serial_lat) // 2]
    for cls, keep in (("short", lambda t: serial_lat[t] <= cut),
                      ("long", lambda t: serial_lat[t] > cut)):
        infl = sorted(lat_hi[t] / serial_lat[t] for t in lat_hi
                      if serial_lat.get(t, 0) > 0.05 and keep(t))
        out[f"latency_inflation_{cls}_median"] = round(
            infl[len(infl) // 2], 2) if infl else None
        out[f"latency_abs_{cls}_max_s"] = round(
            max((lat_hi[t] for t in lat_hi if keep(t)), default=0), 2)
    print(json.dumps(out))


def streamseq_main(n_rows: int, n_batches: int = 20) -> None:
    """Round-11 rung: the watermarked streaming sequence operator at
    scale. Arrival order = event time + bounded jitter (≤1 day, under
    the 2-day watermark), split into ``n_batches`` micro-batch files —
    the realistic always-on profile where sealing is PROGRESSIVE (state
    holds only each group's in-flight window, not the stream). Measures
    wall-clock, rows/s through the state store, peak state rows, and
    asserts the matched-group count equals the batch engine's on the
    same data — plus the bounded-absence variant (rowFound:false under
    a 7-day maxDuration)."""
    n_groups = max(1, n_rows // 100)
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = os.path.join(here, ".scratch",
                       f"events_{n_rows}_{n_groups}.parquet")
    sdir = os.path.join(here, ".scratch", f"stream_seq_{n_rows}")
    indir = os.path.join(sdir, "in")

    spark = get_spark(app_name="scale-check-streamseq",
                      extra_conf={"spark.driver.memory": os.environ.get(
                          "SPARK_DRIVER_MEM", "16g")})
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(src):
        t0 = time.perf_counter()
        synthesize(spark, n_rows, n_groups, src)
        print(f"# synthesized {src}: {time.perf_counter()-t0:.1f}s",
              file=sys.stderr)
    ev = spark.read.parquet(src)

    base, span = 1_700_000_000_000_000_000, 91 * NANOS_DAY
    if not os.path.exists(indir):
        os.makedirs(indir)
        t0 = time.perf_counter()
        jit = F.pmod(F.xxhash64("event_id", F.lit(9)), F.lit(NANOS_DAY))
        arr = ev.withColumn("__arrival", F.col("ts") + jit)
        bucket = F.least(F.lit(n_batches - 1),
                         ((F.col("__arrival") - F.lit(base))
                          * n_batches / F.lit(span)).cast("int"))
        # ONE file per micro-batch (repartition on the bucket column so
        # each bucket's rows land in a single writer task — without it
        # partitionBy emits ~cores part-files per bucket and
        # maxFilesPerTrigger=1 turns 20 intended batches into 600)
        (arr.withColumn("__b", bucket)
            .select("__b", "user_id", "ts", "event_type")
            .repartition(n_batches, "__b")
            .write.mode("overwrite").partitionBy("__b")
            .parquet(sdir + "/staged"))
        # FileStreamSource takes files in MODIFICATION-TIME order, and
        # the parallel writer's part files carry effectively random
        # mtimes — pin them to arrival order or a late bucket processed
        # first freezes the watermark and the earlier buckets all drop
        # as late data (observed: 7 of 10 files 100% late-dropped)
        t_base = time.time() - 3600
        for i in range(n_batches):
            part = glob.glob(f"{sdir}/staged/__b={i}/*.parquet")
            assert len(part) == 1, (i, part)
            dst = os.path.join(indir, f"b{i:03d}.parquet")
            os.rename(part[0], dst)
            os.utime(dst, (t_base + i, t_base + i))
        import pandas as _pd
        for j, day in enumerate((120, 150)):  # heartbeat drain pair
            hb = os.path.join(indir, f"zz_hb{j}.parquet")
            _pd.DataFrame([{"user_id": -9, "ts": base + day * NANOS_DAY,
                            "event_type": "hb"}]).to_parquet(hb)
            os.utime(hb, (t_base + n_batches + j,) * 2)
        print(f"# staged {n_batches} arrival files: "
              f"{time.perf_counter()-t0:.1f}s", file=sys.stderr)

    from funnel_rocket_spark.streaming import watermarked_sequence_match

    seq = [{"filter": ["event_type", "==", "signup"]},
           {"filter": ["event_type", "==", "click"]},
           {"filter": ["event_type", "==", "purchase"]}]
    abseq = [{"filter": ["event_type", "==", "signup"]},
             {"filter": ["event_type", "==", "error"], "rowFound": False},
             {"filter": ["event_type", "==", "purchase"]}]
    # Spark timestamps are MICROSECOND-resolution: the streaming axis
    # truncates the synthetic int64-nano ts, changing sub-µs tie
    # structure — so the batch oracle must run on the SAME µs axis
    # (integer div; a double division would wobble at 1.7e18)
    ev = ev.withColumn("ts_us", F.expr("ts div 1000"))
    eng = QueryEngine("user_id", "ts_us")
    micros_day = 86_400_000_000
    out = {"n_rows": n_rows, "n_groups": n_groups, "n_batches": n_batches,
           "watermark": "2 days", "jitter": "1 day"}

    for name, sseq, dur_s, dur_us in (
            ("seq3", seq, None, None),
            ("absence_maxdur", abseq, 7 * 86400, 7 * micros_day)):
        ckpt = os.path.join(sdir, f"ckpt_{name}")
        stream = (spark.readStream
                  .schema("user_id long, ts long, event_type string")
                  .option("maxFilesPerTrigger", "1").parquet(indir)
                  .select("user_id", "event_type",
                          F.timestamp_micros(F.expr("ts div 1000"))
                          .alias("ts_t")))
        t0 = time.perf_counter()
        q = (watermarked_sequence_match(
                stream, sseq, "user_id", "ts_t",
                watermark="172800 seconds", max_duration=dur_s)
             .writeStream.format("memory").queryName(f"ss_{name}")
             .outputMode("update")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(3600)
        wall = round(time.perf_counter() - t0, 2)
        state_peak = max((p["stateOperators"][0]["numRowsTotal"]
                          for p in q.recentProgress
                          if p["stateOperators"]), default=None)
        got = spark.sql(
            f"SELECT count(DISTINCT group_id) AS c FROM ss_{name} "
            "WHERE matched AND group_id != -9").collect()[0]["c"]
        cond = {"sequence": sseq}
        if dur_us is not None:
            cond["maxDuration"] = dur_us
        want = eng.run(ev, {"query": {"conditions": [cond]}})[
            "query"]["matchingGroups"]
        out[f"{name}.wall_s"] = wall
        out[f"{name}.rows_per_s"] = int(n_rows / wall)
        out[f"{name}.state_peak_rows"] = state_peak
        out[f"{name}.matched_stream"] = got
        out[f"{name}.matched_batch"] = want
        out[f"{name}.equal"] = bool(got == want)
        print(f"# {name}: {wall}s ({int(n_rows/wall)} rows/s, "
              f"state peak {state_peak}, stream {got} vs batch {want})",
              file=sys.stderr)
    print(json.dumps(out))


def hitters_main(n_rows: int) -> None:
    """Exact-heavy-hitters evidence: a zipf-ish high-cardinality column at
    n_rows (deterministic hash-power synthesis, ~n_rows/5 distinct values)
    — certified two-pass top-k vs the full groupBy+orderBy, timing and
    equality."""
    from funnel_rocket_spark.operators import skew

    spark = get_spark(app_name="scale-check-hitters")
    spark.sparkContext.setLogLevel("ERROR")
    # zipf-ish: u^4 concentrates mass on low values; u from a hash so the
    # dataset is deterministic
    u = (F.pmod(F.xxhash64("id"), F.lit(1_000_000)) / 1_000_000.0)
    df = (spark.range(n_rows)
          .select(F.floor(F.pow(u, 8) * (n_rows / 5)).cast("long")
                  .alias("v"))
          .persist())
    df.count()

    out = {"n_rows": n_rows, "timings": {}}
    out["n_distinct"] = df.select("v").distinct().count()
    t0 = time.perf_counter()
    full = [(r["v"], r["cnt"]) for r in
            df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("v")).limit(20).collect()]
    out["timings"]["full_groupby_top20"] = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    mg = [(r["value"], r["cnt"]) for r in
          skew.heavy_hitters(df, "v", k=20, counters=4096).collect()]
    out["timings"]["heavy_hitters_top20"] = round(time.perf_counter() - t0, 2)
    out["exact_match"] = mg == full
    print(json.dumps(out))


def semcontam_main(n_vecs: int, dim: int = 64) -> None:
    """Round-9 rung: cross-set semantic decontamination at corpus scale.
    The planted near-dups (vector i%50==0 ≈ vector i-1, cosine ≈0.999)
    split into a disjoint eval set (the i%50==0 copies — n/50 vectors,
    a realistically benchmark-sized side) and the corpus (everything
    else), so each eval vector has exactly one planted corpus hit and
    recall has an exact denominator. Times the broadcast tier (exact;
    eval matrix broadcast + one zero-shuffle corpus GEMM) and the LSH
    tier (distributed bucket join; precision 1, recall < 1 — reported,
    not assumed)."""
    from pyspark.sql import functions as SF

    from funnel_rocket_spark.operators import similarity

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(here, ".scratch", f"emb_{n_vecs}.parquet")
    spark = get_spark(app_name="scale-check-semcontam")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize_embeddings(spark, n_vecs, dim, path)
        print(f"# synthesized {n_vecs} vectors in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    emb = spark.read.parquet(path)
    is_eval = (SF.pmod("vec_id", SF.lit(50)) == 0) & (SF.col("vec_id") > 0)
    evalset, corpus = emb.where(is_eval), emb.where(~is_eval)
    n_eval = (n_vecs - 1) // 50

    out = {"n_vecs": n_vecs, "dim": dim, "n_eval": n_eval,
           "timings": {}, "recall": {}}
    for method in ("broadcast", "lsh"):
        t0 = time.perf_counter()
        hits = similarity.semantic_contamination(
            corpus, evalset, threshold=0.99, method=method)
        planted = hits.where(
            SF.col("eval_id") - SF.col("vec_id") == 1).count()
        out["timings"][method] = round(time.perf_counter() - t0, 2)
        out["recall"][method] = (round(planted / n_eval, 3)
                                 if n_eval else None)
        print(f"# {method}: {out['timings'][method]}s "
              f"planted-recall={out['recall'][method]}", file=sys.stderr)
    print(json.dumps(out))



def multimodal_main(n_docs: int) -> None:
    """Round-10 rung: codec THROUGHPUT at corpus scale — the catalog's
    multimodal queries run at 500 docs/sf0.01; this times the same
    encode→decode chains (pure-Python JPEG Huffman/IDCT, WAV, Y4M,
    spectral FFT) at n_docs payloads spread over all cores, reporting
    wall seconds and payloads/sec so the per-payload Python cost is a
    measured number, not a guess. Linear-in-docs is the pass criterion
    (map-only stages; no shuffle beyond the fixture spread)."""
    from funnel_rocket_spark.operators import multimodal as mm

    spark = get_spark(app_name="scale-check-multimodal")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.range(n_docs).withColumnRenamed("id", "doc_id")
    out = {"n_docs": n_docs, "timings": {}, "rate_per_sec": {}}

    def run(name, frame):
        t0 = time.perf_counter()
        n = frame.count()
        dt = round(time.perf_counter() - t0, 2)
        out["timings"][name] = dt
        out["rate_per_sec"][name] = int(n / dt) if dt else None
        print(f"# {name}: {dt}s ({n} rows)", file=sys.stderr)

    run("jpeg_encode_decode", mm.decode_image_features(
        mm.synthesize_jpeg_payloads(docs)).where("decode_ok"))
    run("png_encode_decode", mm.decode_image_features(
        mm.synthesize_png_payloads(docs)).where("decode_ok"))
    run("wav_encode_decode", mm.decode_audio_features(
        mm.synthesize_wav_payloads(docs)).where("decode_ok"))
    run("wav_spectral_fft", mm.audio_spectral_features(
        mm.synthesize_tone_wav_payloads(docs)).where("decode_ok"))
    run("y4m_encode_decode_frames", mm.decode_video_frames(
        mm.synthesize_y4m_payloads(docs)).where("decode_ok"))
    print(json.dumps(out))


# One process of the served rung, run by ``served_main`` in a fresh
# interpreter that imports the package from the checkout it names:
# argv = checkout, events path, steady-state runs per shape. Prints one
# JSON line.
_SERVED_CHILD = r"""
import json, os, statistics, sys, tempfile, time
checkout, data, runs = sys.argv[1], sys.argv[2], int(sys.argv[3])
sys.path[:0] = [checkout, os.path.join(checkout, "perfbench")]
from funnel_rocket_spark import catalog
from funnel_rocket_spark.session import get_spark
from workloads import FUNNEL_QUERIES

def hwm_mb(pid):
    with open(f"/proc/{pid}/status") as fh:
        return next(int(l.split()[1]) for l in fh
                    if l.startswith("VmHWM:")) / 1024

n = len(os.sched_getaffinity(0))
spark = get_spark(app_name="served-rung", master=f"local[{n}]",
                  shuffle_partitions=n,
                  extra_conf={"spark.driver.memory": "2g"})
spark.sparkContext.setLogLevel("ERROR")
cat = tempfile.mkdtemp()
t0 = time.perf_counter()
ds = catalog.register_dataset(spark, "events", data, "user_id", "ts",
                              catalog_dir=cat)
out = {"rows": ds.total_rows, "register_s": round(time.perf_counter() - t0, 3),
       "shapes": {}}
for name, query in FUNNEL_QUERIES.items():
    seconds, stats = [], []
    for _ in range(1 + runs):
        t0 = time.perf_counter()
        result = catalog.prepare_query(spark, cat, "events", query)(
            with_stats=True)
        seconds.append(time.perf_counter() - t0)
        stats.append(result["stats"])
    last = stats[-1]
    out["shapes"][name] = {
        "first_s": round(seconds[0], 3),
        "first_cache": stats[0]["strategies"].get("datasetCache"),
        "steady_median_s": round(statistics.median(seconds[1:]), 3),
        "steady_min_s": round(min(seconds[1:]), 3),
        "steady_jobs": last["invoker"]["jobs"],
        "steady_stages": last["invoker"]["stages"],
        "steady_shuffle_write_bytes": last["worker"]["shuffleWriteBytes"],
        "steady_scanned_rows": last["worker"]["scannedRows"]}
out["peak_rss_mb"] = round(
    hwm_mb(os.getpid()) + hwm_mb(spark.sparkContext._gateway.proc.pid))
spark.stop()
print(json.dumps(out))
"""


def served_main(runs: int = 8, checkouts: list[str] | None = None) -> None:
    """Serving rung past the benchmark's 100k rows: the three perfbench
    ``funnel`` query shapes through ``catalog.prepare_query(...)(
    with_stats=True)`` over the sf1 events table (1M rows, built by
    tools/make_sf1.py into .scratch/sf1.0 when missing) registered with
    ``catalog.register_dataset``. Per shape it times the first request
    (the very first one builds the dataset's in-memory copy, where the
    checkout serves from one) and ``runs`` steady-state requests, with
    the jobs, stages, shuffle bytes and scanned rows of the last, and
    the process's peak RSS (driver + JVM). Each ``label=checkout``
    (default: ``this=`` this checkout; e.g. ``parent=<clone of the
    parent commit> change=.``) runs in its own process, in that order.
    Writes tools/rung_served_sf1.json."""
    import subprocess

    import make_sf1

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    data = os.path.join(here, ".scratch", "sf1.0", "events.parquet")
    if not os.path.exists(data):
        make_sf1.build(make_sf1.SRC_DEFAULT, os.path.dirname(data))
    out = {"rows": None, "runs": runs, "host_cores": os.cpu_count(),
           "checkouts": {}}
    for arg in checkouts or [f"this={here}"]:
        label, _, checkout = arg.partition("=")
        checkout = os.path.abspath(checkout)
        child = subprocess.run(
            [sys.executable, "-c", _SERVED_CHILD, checkout, data, str(runs)],
            cwd=checkout, env={**os.environ, "PYTHONPATH": checkout},
            check=True, capture_output=True, text=True)
        got = json.loads(child.stdout.strip().splitlines()[-1])
        out["rows"] = got.pop("rows")
        out["checkouts"][label] = got
        print(json.dumps({label: got}), flush=True)
    with open(os.path.join(here, "tools", "rung_served_sf1.json"), "w") as fh:
        json.dump(out, fh, indent=1)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "served":
        served_main(int(sys.argv[2]) if len(sys.argv) > 2 else 8,
                    sys.argv[3:])
        return
    if len(sys.argv) > 1 and sys.argv[1] == "docs":
        docs_main(int(sys.argv[2]) if len(sys.argv) > 2 else 100_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "embeddings":
        embeddings_main(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "pqsweep":
        pqsweep_main(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "curate":
        curate_main(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "lmjoin":
        lmjoin_main(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bpetrainrich":
        bpetrain_rich_main(
            int(sys.argv[2]) if len(sys.argv) > 2 else 500_000,
            int(sys.argv[3]) if len(sys.argv) > 3 else 32_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bpetrain":
        bpetrain_main(int(sys.argv[2]) if len(sys.argv) > 2 else 500_000,
                      int(sys.argv[3]) if len(sys.argv) > 3 else 1_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "kmeans":
        kmeans_main(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "semcontam":
        semcontam_main(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "pipeline":
        pipeline_main(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "cleanfilters":
        cleanfilters_main(int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "reportvar":
        report_variance_main(
            int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000,
            runs=int(sys.argv[3]) if len(sys.argv) > 3 else 5)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "multimodal":
        multimodal_main(int(sys.argv[2]) if len(sys.argv) > 2 else 200_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "whale":
        whale_main(int(sys.argv[2]) if len(sys.argv) > 2 else 100_000_000,
                   float(sys.argv[3]) if len(sys.argv) > 3 else 0.2)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "whalespill":
        args = (int(sys.argv[2]) if len(sys.argv) > 2 else 40_000_000,
                float(sys.argv[3]) if len(sys.argv) > 3 else 0.75,
                sys.argv[4] if len(sys.argv) > 4 else "1g")
        if len(sys.argv) > 5:  # child: the named shapes in one JVM
            whale_spill_shapes_main(*args, sys.argv[5].split(","))
        else:
            whale_spill_main(*args)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "bucketed":
        bucketed_main(int(sys.argv[2]) if len(sys.argv) > 2
                      else 100_000_000,
                      float(sys.argv[3]) if len(sys.argv) > 3 else 0.2)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "universe":
        universe_main(int(sys.argv[2]) if len(sys.argv) > 2
                      else 100_000_000)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "concurrent":
        concurrent_main(int(sys.argv[2]) if len(sys.argv) > 2
                        else 20_000_000,
                        int(sys.argv[3]) if len(sys.argv) > 3 else 8,
                        sys.argv[4] if len(sys.argv) > 4 else "fair")
        return
    if len(sys.argv) > 1 and sys.argv[1] == "streamseq":
        streamseq_main(int(sys.argv[2]) if len(sys.argv) > 2
                       else 10_000_000,
                       int(sys.argv[3]) if len(sys.argv) > 3 else 20)
        return
    if len(sys.argv) > 1 and sys.argv[1] == "hitters":
        hitters_main(int(sys.argv[2]) if len(sys.argv) > 2 else 50_000_000)
        return
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000_000
    n_groups = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # key the cache by BOTH dims: reusing an n_rows-only file with a
    # different group count would silently measure the wrong workload
    path = os.path.join(here, ".scratch",
                        f"events_{n_rows}_{n_groups}.parquet")

    spark = get_spark(app_name="scale-check")
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        synthesize(spark, n_rows, n_groups, path)
        print(f"# synthesized {n_rows} rows in "
              f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)

    ev = spark.read.parquet(path)
    eng = QueryEngine("user_id", "ts")

    queries = {
        "empty_counts": lambda: eng.run(ev, {}),
        "count_target": lambda: eng.run(ev, {"query": {"conditions": [
            {"filter": ["event_type", "==", "purchase"],
             "target": ["count", ">=", 3]}]}}),
        "sequence_3step": lambda: eng.run(ev, {"query": {"conditions": [
            {"sequence": [{"filter": ["event_type", "==", "signup"]},
                          {"filter": ["event_type", "==", "click"]},
                          {"filter": ["event_type", "==", "purchase"]}]}]}}),
        "funnel_steps": lambda: eng.plan(ev, {"funnel": {"sequence": [
            {"filter": ["event_type", "==", "view"]},
            {"filter": ["event_type", "==", "purchase"]}]}})
            .funnel_step_counts().collect(),
        "agg_count_per_value": lambda: eng.run(ev, {"query": {
            "conditions": [{"filter": ["event_type", "==", "purchase"]}],
            "aggregations": [{"column": "event_type",
                              "type": "countPerValue", "top": 10}]}}),
        "retention_weekly": lambda: behavior.retention_cohorts(
            ev.select("user_id", "ts"), "user_id", "ts").collect(),
        "attribution": lambda: behavior.last_touch_attribution(
            ev, "user_id", "ts", "event_type", conversion="purchase",
            touch_types=["view", "click"], value_col="value",
            order_col="event_id").collect(),
        "sessionize_stats": lambda: temporal.session_stats(
            ev.select("user_id", "ts"), "user_id", "ts",
            gap=2 * 3600 * 10**9)
            .groupBy().agg(F.count(F.lit(1)), F.sum("n_events")).collect(),
        # the heaviest user-facing composite: sessionize + sequence
        # anchors windowed by (group, session) + per-session collapse —
        # one exchange on the group column serves all three
        "session_funnel": lambda: behavior.session_funnel(
            ev, "user_id", "ts", "event_type", ["view", "purchase"],
            gap=2 * 3600 * 10**9).collect(),
    }

    out = {"n_rows": n_rows, "n_groups": n_groups, "timings": {}}
    for name, fn in queries.items():
        fn()  # warm (codegen + page cache)
        t0 = time.perf_counter()
        fn()
        out["timings"][name] = round(time.perf_counter() - t0, 2)
        print(f"# {name}: {out['timings'][name]}s", file=sys.stderr)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
