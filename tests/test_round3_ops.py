"""Round-3 operator tests: deterministic k-means / SemDeDup, temperature
resampling, bloom decontamination, and the TPC-H subquery shapes.

The catalog oracles already differential-test these against DuckDB
(tests/test_oracle_parity.py picks up the new entries automatically); the
tests here pin the properties an SQL oracle can't express — numpy ground
truth for the clustering iteration, bloom no-false-negatives, sampling-rate
statistics, and the physical-plan shapes.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from funnel_rocket_spark import benchqueries as bq
from funnel_rocket_spark.operators import dedup, sampling, similarity, skew
from funnel_rocket_spark.plans import count_exchanges, formatted_plan

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return bq.load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def docs(spark):
    return bq.load_table(spark, SF, "documents")


# --------------------------------------------------------------------------- #
# k-means: numpy ground truth for the full iteration


def _numpy_kmeans(ids, vecs, k=8, rounds=2):
    """Transcription of similarity.kmeans_lloyd's spec: seeds = k lowest
    ids, max-cosine assignment with ties to the lowest center index,
    6-decimal half-away-from-zero rounded per-dim means."""
    order = np.argsort(ids)
    ids, vecs = ids[order], vecs[order]
    centers = vecs[:k].copy()

    def assign(cs):
        sims = (vecs @ cs.T) / (
            np.linalg.norm(vecs, axis=1)[:, None]
            * np.linalg.norm(cs, axis=1)[None, :])
        # argmax with ties to the lowest index — np.argmax already does that
        return np.argmax(sims, axis=1)

    def round6(x):
        return np.copysign(np.floor(np.abs(x) * 1e6 + 0.5), x) / 1e6

    for _ in range(rounds):
        a = assign(centers)
        centers = np.stack([
            round6(vecs[a == ci].mean(axis=0)) if (a == ci).any() else centers[ci]
            for ci in range(k)])
    return ids, assign(centers), centers


def test_kmeans_matches_numpy(spark, emb):
    assigned, centers = similarity.kmeans_lloyd(emb, k=8, rounds=2)
    got = {r["vec_id"]: r["cluster"]
           for r in assigned.select("vec_id", "cluster").collect()}
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([list(r["embedding"]) for r in rows], dtype=np.float64)
    ref_ids, ref_assign, ref_centers = _numpy_kmeans(ids, vecs)
    assert got == dict(zip(ref_ids.tolist(), ref_assign.tolist()))
    assert np.allclose(np.array(centers), ref_centers, atol=1e-6)


def test_kmeans_assignment_covers_corpus(spark, emb):
    assigned, _ = similarity.kmeans_lloyd(emb, k=8, rounds=1)
    n = emb.where(F.col("embedding").isNotNull()).count()
    assert assigned.count() == n
    assert assigned.where(F.col("cluster").isNull()).count() == 0


def test_semantic_pairs_subset_of_brute_force(spark, emb):
    """Cell partitioning may LOSE cross-cell pairs (the SemDeDup recall
    trade) but must never invent pairs or change a cosine value."""
    brute = {(r["id_a"], r["id_b"]): r["cosine_sim"]
             for r in similarity.embedding_dup_pairs(
                 emb, threshold=0.45, method="expr").collect()}
    sem = {(r["id_a"], r["id_b"]): r["cosine_sim"]
           for r in similarity.semantic_dedup_pairs(
               emb, k=8, rounds=2, threshold=0.45).collect()}
    assert set(sem) <= set(brute)
    for pair, sim in sem.items():
        assert math.isclose(sim, brute[pair], abs_tol=1e-9)


# --------------------------------------------------------------------------- #
# bloom decontamination


def test_bloom_equals_exact_contamination(spark, docs):
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    exact = sorted(map(tuple, dedup.ngram_contamination(
        corpus, evalset, n=3).collect()))
    bloom = sorted(map(tuple, dedup.bloom_contamination(
        corpus, evalset, n=3).collect()))
    assert bloom == exact
    assert len(exact) > 0  # the fixture actually plants contamination


def test_bloom_tiny_filter_still_exact(spark, docs):
    """An undersized bitset saturates with false positives — the exact
    verify join must still produce the exact answer (bloom = prefilter
    ONLY, never the decision)."""
    evalset = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0).limit(50)
    exact = sorted(map(tuple, dedup.ngram_contamination(
        corpus, evalset, n=3).collect()))
    bloom = sorted(map(tuple, dedup.bloom_contamination(
        corpus, evalset, n=3, m_bits=256, k_hashes=2).collect()))
    assert bloom == exact


def test_bloom_empty_evalset(spark, docs):
    empty = docs.filter(F.lit(False))
    out = dedup.bloom_contamination(docs.limit(20), empty, n=3)
    assert out.count() == 0


# --------------------------------------------------------------------------- #
# temperature resampling


def test_temperature_keeps_rarest_stratum_fully(spark, docs):
    kept = sampling.temperature_resample(docs, "lang", alpha=0.5)
    before = {r["lang"]: r["count"]
              for r in docs.groupBy("lang").count().collect()}
    after = {r["lang"]: r["count"]
             for r in kept.groupBy("lang").count().collect()}
    rarest = min(before, key=before.get)
    assert after[rarest] == before[rarest]


def test_temperature_rates_follow_power_law(spark, docs):
    kept = sampling.temperature_resample(docs, "lang", alpha=0.5)
    before = {r["lang"]: r["count"]
              for r in docs.groupBy("lang").count().collect()}
    after = {r["lang"]: r["count"]
             for r in kept.groupBy("lang").count().collect()}
    nmin = min(before.values())
    for lang, n in before.items():
        expected = n * math.sqrt(nmin / n)
        # binomial tolerance: 4 sigma
        sigma = math.sqrt(max(expected * (1 - expected / n), 1.0))
        assert abs(after.get(lang, 0) - expected) <= 4 * sigma + 1, (
            lang, n, expected, after.get(lang, 0))


def test_temperature_alpha_one_keeps_everything(spark, docs):
    kept = sampling.temperature_resample(docs, "lang", alpha=1.0)
    assert kept.count() == docs.count()


def test_temperature_deterministic(spark, docs):
    a = sorted(r["doc_id"] for r in sampling.temperature_resample(
        docs, "lang", alpha=0.5).select("doc_id").collect())
    b = sorted(r["doc_id"] for r in sampling.temperature_resample(
        docs, "lang", alpha=0.5).select("doc_id").collect())
    assert a == b


def test_temperature_rejects_bad_alpha(spark, docs):
    with pytest.raises(ValueError):
        sampling.temperature_resample(docs, "lang", alpha=0.0)


# --------------------------------------------------------------------------- #
# plan gates for the new shapes


def test_temperature_corpus_joins_broadcast(spark, docs):
    """The corpus side must reach the rate join via broadcast — its only
    exchanges belong to the tiny per-stratum count aggregate."""
    kept = sampling.temperature_resample(docs, "lang", alpha=0.5)
    plan = formatted_plan(kept)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def _scan_count(plan: str) -> int:
    import re

    return len(re.findall(r"\(\d+\) Scan parquet", plan))


def test_top_supplier_no_lineitem_rejoin(spark):
    """Q2 shape: the correlated max is ONE window over the partial
    aggregate; lineitem is scanned exactly once and the dimension joins
    broadcast. The second exchange (aggregate keys → l_partkey for the
    window) moves only aggregated rows — acceptable; a lineitem re-join
    would not be."""
    out = bq.QUERIES["olap_top_supplier_per_part"][0](spark, SF)
    plan = formatted_plan(out)
    assert _scan_count(plan) == 3, plan  # lineitem, part, supplier
    assert "SortMergeJoin" not in plan, plan
    assert count_exchanges(out) <= 2, plan


def test_pending_supply_part_filter_broadcasts(spark):
    out = bq.QUERIES["olap_pending_supply"][0](spark, SF)
    plan = formatted_plan(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_late_orders_no_self_join_of_lineitem(spark):
    """Q21 shape: the EXISTS / NOT EXISTS pair is folded into per-order
    window counters — lineitem and orders are each scanned ONCE (a
    groupBy + re-join formulation duplicates both scans) and no
    sort-merge join appears."""
    out = bq.QUERIES["olap_late_orders"][0](spark, SF)
    plan = formatted_plan(out)
    # one scan of lineitem + one of orders + broadcast supplier
    assert _scan_count(plan) == 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_semantic_dedup_single_cluster_exchange(spark, emb):
    """The pair join shuffles each side once on `cluster` — no all-pairs
    cartesian."""
    pairs = similarity.semantic_dedup_pairs(emb, k=4, rounds=1,
                                            threshold=0.45)
    plan = formatted_plan(pairs)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# --------------------------------------------------------------------------- #
# ExactSubstr span dedup


def test_exact_substring_finds_planted_span(spark):
    boiler = " ".join(f"tok{i}" for i in range(25))
    rows = [
        (1, boiler + " unique one after"),
        (2, "prefix words here " + boiler),
        (3, "completely different text with no duplication at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from funnel_rocket_spark.operators.text import exact_substring_spans

    spans = {r["doc_id"]: (r["span_start"], r["span_end"], r["n_windows"])
             for r in exact_substring_spans(df, window=20).collect()}
    # doc 1: boilerplate at tokens 1..25 → 6 dup windows (starts 1..6)
    assert spans[1] == (1, 25, 6)
    # doc 2: 3 prefix tokens shift the span to 4..28
    assert spans[2] == (4, 28, 6)
    assert 3 not in spans


def test_exact_substring_merges_adjacent_islands(spark):
    """Two duplicate regions separated by > window unique tokens must stay
    separate spans."""
    a = " ".join(f"a{i}" for i in range(20))
    b = " ".join(f"b{i}" for i in range(20))
    gap = " ".join(f"u{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, a + " " + gap + " " + b), (2, a), (3, b)],
        "doc_id long, text string")
    from funnel_rocket_spark.operators.text import exact_substring_spans

    spans = sorted(
        (r["span_start"], r["span_end"])
        for r in exact_substring_spans(df, window=20)
        .where(F.col("doc_id") == 1).collect())
    assert spans == [(1, 20), (51, 70)]


def test_exact_substring_short_docs_no_windows(spark):
    df = spark.createDataFrame([(1, "too short"), (2, "too short")],
                               "doc_id long, text string")
    from funnel_rocket_spark.operators.text import exact_substring_spans

    assert exact_substring_spans(df, window=20).count() == 0


def test_exact_substring_single_hash_exchange(spark, docs):
    """The corpus-wide match is a count-over-hash window — no self-join of
    the exploded window frame."""
    from funnel_rocket_spark.operators.text import exact_substring_spans

    out = exact_substring_spans(docs, window=20)
    plan = formatted_plan(out)
    assert _scan_count(plan) == 1, plan
    assert "Join" not in plan, plan


def test_sales_opportunity_anti_join_shape(spark):
    """Q22 shape: NOT EXISTS is a hash anti-join; dimensions broadcast."""
    out = bq.QUERIES["olap_sales_opportunity"][0](spark, SF)
    plan = formatted_plan(out)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan.replace(
        "BroadcastNestedLoopJoin", ""), plan


def test_semantic_dedup_gemm_expr_agree(spark, emb):
    gemm = sorted(map(tuple, similarity.semantic_dedup_pairs(
        emb, k=8, rounds=2, threshold=0.45, method="gemm").collect()))
    expr = sorted(map(tuple, similarity.semantic_dedup_pairs(
        emb, k=8, rounds=2, threshold=0.45, method="expr").collect()))
    assert [p[:2] for p in gemm] == [p[:2] for p in expr]
    for g, x in zip(gemm, expr):
        assert math.isclose(g[2], x[2], abs_tol=1e-6)


# --------------------------------------------------------------------------- #
# property tests: ExactSubstr vs a brute-force python mirror

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _py_spans(texts, window):
    """Brute-force mirror of exact_substring_spans: dict token-window
    counting + per-doc island merge."""
    from collections import Counter

    toks = {i: t.lower().split() for i, t in texts}
    wins = Counter()
    for tk in toks.values():
        for s in range(len(tk) - window + 1):
            wins[" ".join(tk[s:s + window])] += 1
    out = {}
    for i, tk in toks.items():
        starts = [s + 1 for s in range(len(tk) - window + 1)
                  if wins[" ".join(tk[s:s + window])] > 1]
        spans = []
        for s in starts:
            if spans and s - spans[-1][1] <= window:
                spans[-1] = (spans[-1][0], s, spans[-1][2] + 1)
            else:
                spans.append((s, s, 1))
        for a, b, n in spans:
            out[(i, a)] = (b + window - 1, n)
    return out


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
             min_size=0, max_size=18),
    min_size=1, max_size=8))
def test_exact_substring_matches_python_mirror(spark, data):
    """Tiny vocabulary + short docs → dense window collisions, including
    WITHIN-doc repeats and overlapping self-similar runs — the edge cases
    a planted-span test can't reach."""
    from funnel_rocket_spark.operators.text import exact_substring_spans

    window = 3
    texts = [(i, " ".join(toks)) for i, toks in enumerate(data)]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {(r["doc_id"], r["span_start"]): (r["span_end"], r["n_windows"])
           for r in exact_substring_spans(df, window=window).collect()}
    assert got == _py_spans(texts, window)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(strata=st.lists(st.tuples(st.sampled_from("abcd"),
                                 st.integers(1, 40)),
                       min_size=1, max_size=4, unique_by=lambda t: t[0]))
def test_temperature_resample_properties(spark, strata):
    """For ANY strata composition: every kept id was in the input, the
    rarest stratum is never downsampled, and re-running returns the
    identical set."""
    rows, next_id = [], 0
    for name, n in strata:
        for _ in range(n):
            rows.append((next_id, name))
            next_id += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept1 = sorted(r["doc_id"] for r in sampling.temperature_resample(
        df, "lang", alpha=0.5).collect())
    kept2 = sorted(r["doc_id"] for r in sampling.temperature_resample(
        df, "lang", alpha=0.5).collect())
    assert kept1 == kept2
    assert set(kept1) <= {r[0] for r in rows}
    counts = {name: n for name, n in strata}
    rarest = min(counts, key=lambda s: (counts[s], s))
    rare_ids = {i for i, s in rows if s == rarest}
    missing = rare_ids - set(kept1)
    if counts[rarest] == min(counts.values()):
        # unique min rate == 1.0 exactly; ties also all get rate 1.0
        assert not missing


def test_kmeans_gemm_expr_agree(spark, emb):
    """The two physical strategies are the same algorithm: identical
    assignments and centers (rounding makes the iteration path-independent)."""
    a_e, c_e = similarity.kmeans_lloyd(emb, k=8, rounds=2, method="expr")
    a_g, c_g = similarity.kmeans_lloyd(emb, k=8, rounds=2, method="gemm")
    assert np.allclose(np.array(c_e), np.array(c_g), atol=1e-9)
    got_e = dict(a_e.select("vec_id", "cluster").collect())
    got_g = dict(a_g.select("vec_id", "cluster").collect())
    assert got_e == got_g

    # replaying persisted centers with rounds=0 reproduces the trained
    # assignment bit-for-bit and returns the centers unchanged (the
    # pipeline kmeans artifact cache contract)
    a_r, c_r = similarity.kmeans_lloyd(emb, k=8, rounds=0,
                                       init_centers=c_g)
    assert c_r == c_g
    assert dict(a_r.select("vec_id", "cluster").collect()) == got_g
    # ...and semantic_dedup_pairs with pre-trained centers equals the
    # train-in-place path
    trained = sorted(map(tuple, similarity.semantic_dedup_pairs(
        emb, k=8, rounds=2, threshold=0.9).collect()))
    replayed = sorted(map(tuple, similarity.semantic_dedup_pairs(
        emb, k=8, rounds=2, threshold=0.9, centers=c_g).collect()))
    assert trained == replayed


# --------------------------------------------------------------------------- #
# incremental LSH dedup


def test_incremental_equals_full_restricted(spark, docs):
    """The defining contract: incremental(new, old) == full-corpus pairs
    restricted to pairs touching >= 1 new id, exactly (same candidates,
    same jaccard values)."""
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    inc = sorted(map(tuple, dedup.incremental_lsh_pairs(
        new, old, threshold=0.5).collect()))
    full = sorted(
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
        if r["id_a"] % 5 == 0 or r["id_b"] % 5 == 0)
    assert inc == full
    assert len(inc) > 0  # fixture plants near-dups across the split


def test_incremental_prebuilt_index_same_result(spark, docs):
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    index = dedup.minhash_band_table(old)
    with_idx = sorted(map(tuple, dedup.incremental_lsh_pairs(
        new, old, index=index).collect()))
    without = sorted(map(tuple, dedup.incremental_lsh_pairs(
        new, old).collect()))
    assert with_idx == without


def test_incremental_index_roundtrips_parquet(spark, docs, tmp_path):
    """The index is a plain table: write, read back, join — the artifact a
    production pipeline persists between ingests."""
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    p = str(tmp_path / "band_index.parquet")
    dedup.minhash_band_table(old).write.parquet(p)
    reread = spark.read.parquet(p)
    via_disk = sorted(map(tuple, dedup.incremental_lsh_pairs(
        new, old, index=reread).collect()))
    direct = sorted(map(tuple, dedup.incremental_lsh_pairs(
        new, old).collect()))
    assert via_disk == direct


def test_incremental_candidates_skip_old_old(spark, docs):
    """verify=False output never contains an old×old pair."""
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    cands = dedup.incremental_lsh_pairs(new, old, verify=False)
    assert cands.where((F.col("id_a") % 5 != 0)
                       & (F.col("id_b") % 5 != 0)).count() == 0


# --------------------------------------------------------------------------- #
# interval-overlap join


def _mk_intervals(spark, rows, a="s", b="e"):
    return spark.createDataFrame(rows, f"id long, {a} long, {b} long")


def test_interval_join_strategies_agree(spark):
    import random

    rng = random.Random(7)
    left = [(i, s := rng.randrange(0, 1000), s + rng.randrange(1, 120))
            for i in range(120)]
    right = [(i, s := rng.randrange(0, 1000), s + rng.randrange(1, 120))
             for i in range(90)]
    ldf = _mk_intervals(spark, left, "ls", "le")
    rdf = _mk_intervals(spark, right, "rs", "re").withColumnRenamed(
        "id", "rid")
    from funnel_rocket_spark.operators import temporal

    bc = sorted((r["id"], r["rid"]) for r in temporal.interval_join(
        ldf, rdf, "ls", "le", "rs", "re", bucket_size=50.0,
        strategy="broadcast").collect())
    bk = sorted((r["id"], r["rid"]) for r in temporal.interval_join(
        ldf, rdf, "ls", "le", "rs", "re", bucket_size=50.0,
        strategy="bucketed").collect())
    py = sorted((i, j) for i, ls, le in left for j, rs, re_ in right
                if ls < re_ and rs < le)
    assert bc == py
    assert bk == py


def test_interval_join_bucketed_no_duplicate_pairs(spark):
    """A pair overlapping across MANY shared grid cells must appear once —
    the one-cell attribution replaces the usual distinct."""
    ldf = _mk_intervals(spark, [(1, 0, 1000)], "ls", "le")
    rdf = _mk_intervals(spark, [(2, 5, 995)], "rs", "re").withColumnRenamed(
        "id", "rid")
    from funnel_rocket_spark.operators import temporal

    out = temporal.interval_join(ldf, rdf, "ls", "le", "rs", "re",
                                 bucket_size=10.0, strategy="bucketed")
    assert out.count() == 1


def test_interval_join_half_open_boundaries(spark):
    """Touching intervals ([0,10) and [10,20)) do NOT overlap."""
    ldf = _mk_intervals(spark, [(1, 0, 10)], "ls", "le")
    rdf = _mk_intervals(spark, [(2, 10, 20), (3, 9, 20)],
                        "rs", "re").withColumnRenamed("id", "rid")
    from funnel_rocket_spark.operators import temporal

    for strat in ("broadcast", "bucketed"):
        got = sorted(r["rid"] for r in temporal.interval_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_size=7.0,
            strategy=strat).collect())
        assert got == [3], strat


def test_interval_join_int64_nanos_boundary(spark):
    """int64 epoch-nano coordinates (~1e18, past double's 2^53): the
    exclusive end must come from long arithmetic — the old double epsilon
    was a no-op there, exploding one extra grid cell for intervals ending
    exactly on a bucket boundary and firing the span guard one bucket
    early. An interval spanning EXACTLY max_buckets_per_interval cells
    with a boundary end must succeed and stay exact."""
    from funnel_rocket_spark.operators import temporal

    hour = 3_600_000_000_000  # nanos
    # cell-aligned start so [base, base+5h) covers exactly 5 grid cells
    base = (1_600_000_000_000_000_000 // hour + 1) * hour
    # [base, base + 5h): exactly 5 cells of size 1h; old path computed 6
    ldf = _mk_intervals(spark, [(1, base, base + 5 * hour)], "ls", "le")
    rdf = _mk_intervals(
        spark,
        [(2, base + 5 * hour, base + 6 * hour),   # touches: no overlap
         (3, base + 5 * hour - 1, base + 6 * hour),  # 1ns overlap
         (4, base - hour, base + hour)],
        "rs", "re").withColumnRenamed("id", "rid")
    out = temporal.interval_join(ldf, rdf, "ls", "le", "rs", "re",
                                 bucket_size=float(hour),
                                 strategy="bucketed",
                                 max_buckets_per_interval=5)
    assert sorted(r["rid"] for r in out.collect()) == [3, 4]


def test_interval_join_negative_integer_coords(spark):
    """Long-space floor division must round toward -inf (div truncates),
    and results must agree with the broadcast strategy on negatives."""
    from funnel_rocket_spark.operators import temporal

    left = [(1, -25, -3), (2, -10, 4), (3, 3, 9)]
    right = [(10, -30, -24), (11, -5, 1), (12, -4, 3), (13, 8, 12)]
    ldf = _mk_intervals(spark, left, "ls", "le")
    rdf = _mk_intervals(spark, right, "rs", "re").withColumnRenamed(
        "id", "rid")
    py = sorted((i, j) for i, ls, le in left for j, rs, re_ in right
                if ls < re_ and rs < le)
    for strat in ("broadcast", "bucketed"):
        got = sorted((r["id"], r["rid"]) for r in temporal.interval_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_size=7.0,
            strategy=strat).collect())
        assert got == py, strat


def test_interval_join_float_coords_keep_epsilon_path(spark):
    """Fractional coordinates (or fractional bucket sizes) stay on the
    double path and remain exact."""
    from funnel_rocket_spark.operators import temporal

    ldf = spark.createDataFrame([(1, 0.0, 2.5)], "id long, ls double, le double")
    rdf = spark.createDataFrame([(2, 2.5, 4.0), (3, 2.4, 4.0)],
                                "rid long, rs double, re double")
    got = sorted(r["rid"] for r in temporal.interval_join(
        ldf, rdf, "ls", "le", "rs", "re", bucket_size=1.0,
        strategy="bucketed").collect())
    assert got == [3]


def test_interval_join_bucketed_plan_is_hash_join(spark):
    """The bucketed strategy's whole point: the inequality pair becomes an
    equi-join — no nested-loop, no cartesian, no distinct aggregation."""
    from funnel_rocket_spark.operators import temporal

    ldf = _mk_intervals(spark, [(1, 0, 10)], "ls", "le")
    rdf = _mk_intervals(spark, [(2, 5, 15)], "rs", "re").withColumnRenamed(
        "id", "rid")
    out = temporal.interval_join(ldf, rdf, "ls", "le", "rs", "re",
                                 bucket_size=10.0, strategy="bucketed")
    plan = formatted_plan(out)
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "__cell" in plan  # the grid equi-join key


def test_new_operators_empty_inputs(spark):
    """Zero-row inputs compose (return empty frames), never crash."""
    from funnel_rocket_spark.operators import temporal
    from funnel_rocket_spark.operators.text import exact_substring_spans

    empty_docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert exact_substring_spans(empty_docs).count() == 0
    assert sampling.temperature_resample(empty_docs, "lang").count() == 0
    assigned, centers = similarity.kmeans_lloyd(empty_emb, k=4, rounds=1)
    assert assigned.count() == 0 and centers == []
    assert similarity.semantic_dedup_pairs(empty_emb, k=4, rounds=1).count() == 0
    assert dedup.incremental_lsh_pairs(empty_docs, empty_docs).count() == 0
    codes, centers, cb = similarity.ivf_pq_index(empty_emb, n_clusters=2,
                                                 m=8, n_bits=2, rounds=1)
    assert codes.count() == 0
    assert similarity.ivf_pq_search(codes, centers, cb,
                                    empty_emb).count() == 0
    assert dedup.bloom_contamination(empty_docs, empty_docs).count() == 0
    assert temporal.interval_join(
        spark.createDataFrame([], "id long, s long, e long"),
        spark.createDataFrame([], "rid long, rs long, re long"),
        "s", "e", "rs", "re", bucket_size=10.0,
        strategy="bucketed").count() == 0


def test_remove_duplicate_spans_planted(spark):
    boiler = " ".join(f"tok{i}" for i in range(25))
    df = spark.createDataFrame(
        [(1, boiler + " keep these words"),
         (2, "front matter stays " + boiler),
         (3, "untouched document entirely")],
        "doc_id long, text string")
    from funnel_rocket_spark.operators.text import remove_duplicate_spans

    out = {r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
           for r in remove_duplicate_spans(df, window=20).collect()}
    assert out[1] == ("keep these words", 25)
    assert out[2] == ("front matter stays", 25)
    assert out[3] == ("untouched document entirely", 0)


def test_remove_duplicate_spans_whole_doc_removed(spark):
    dup = " ".join(f"d{i}" for i in range(20))
    df = spark.createDataFrame([(1, dup), (2, dup)],
                               "doc_id long, text string")
    from funnel_rocket_spark.operators.text import remove_duplicate_spans

    out = {r["doc_id"]: (r["clean_text"], r["n_removed_tokens"])
           for r in remove_duplicate_spans(df, window=20).collect()}
    assert out == {1: ("", 20), 2: ("", 20)}


def test_interval_join_negative_coordinates(spark):
    """floor() grid cells are correct below zero (floor-toward-minus-inf,
    not truncate-toward-zero)."""
    from funnel_rocket_spark.operators import temporal

    ldf = _mk_intervals(spark, [(1, -25, -5), (2, -100, -80)], "ls", "le")
    rdf = _mk_intervals(spark, [(3, -10, 10), (4, -90, -85)],
                        "rs", "re").withColumnRenamed("id", "rid")
    for strat in ("broadcast", "bucketed"):
        got = sorted((r["id"], r["rid"]) for r in temporal.interval_join(
            ldf, rdf, "ls", "le", "rs", "re", bucket_size=7.0,
            strategy=strat).collect())
        assert got == [(1, 3), (2, 4)], strat


# --------------------------------------------------------------------------- #
# Z-order clustered writer


def test_zorder_prunes_on_every_column(spark, tmp_path):
    """The point of Z-order vs lexicographic sort: per-file min/max ranges
    are narrow on BOTH columns, so parquet stats prune scans filtered on
    either. Measured: average per-file range width of the SECOND column
    must be far below the full span (a lexicographic sort by the first
    column leaves it at ~full span in every file)."""
    from funnel_rocket_spark.sources.ingest import write_zordered

    li = bq.load_table(spark, SF, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity")
    zpath = str(tmp_path / "zordered")
    lpath = str(tmp_path / "lexical")
    write_zordered(li, zpath, ["l_partkey", "l_suppkey"], bits=4,
                   partitions=8)
    (li.repartitionByRange(8, F.col("l_partkey"))
     .sortWithinPartitions("l_partkey")
     .write.mode("overwrite").parquet(lpath))

    def avg_width(path, col):
        df = (spark.read.parquet(path)
              .withColumn("__f", F.input_file_name())
              .groupBy("__f").agg((F.max(col) - F.min(col)).alias("w")))
        rows = df.collect()
        return sum(r["w"] for r in rows) / len(rows)

    span = (li.agg((F.max("l_suppkey") - F.min("l_suppkey"))).collect()[0][0])
    z_w = avg_width(zpath, "l_suppkey")
    l_w = avg_width(lpath, "l_suppkey")
    # lexicographic files carry ~the full suppkey span; z-order files a
    # fraction of it
    assert l_w > 0.8 * span, (l_w, span)
    assert z_w < 0.6 * span, (z_w, span)
    # and the first column still clusters under z-order — loosely: the
    # Morton curve alternates bits, so at 4 bits / 8 files a file covers a
    # wide first-column slice, and repartitionByRange's SAMPLED bounds move
    # the per-file ratio between ~0.55 and ~0.85 run-to-run. Assert only
    # the stable property (clearly below an unclustered ~1.0 span).
    pspan = (li.agg((F.max("l_partkey") - F.min("l_partkey"))).collect()[0][0])
    assert avg_width(zpath, "l_partkey") < 0.9 * pspan
    # row data survives the round trip
    assert spark.read.parquet(zpath).count() == li.count()


def test_zorder_key_is_deterministic(spark):
    from funnel_rocket_spark.sources.ingest import zorder_key

    li = bq.load_table(spark, SF, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey").limit(500)
    a = sorted(map(tuple, zorder_key(
        li, ["l_partkey", "l_suppkey"], bits=4).collect()))
    b = sorted(map(tuple, zorder_key(
        li, ["l_partkey", "l_suppkey"], bits=4).collect()))
    assert a == b


def test_zorder_key_signed_long_guard(spark):
    """bits*len(cols) > 63 would shift a bit past the signed-long range
    (or onto the sign bit, corrupting the clustering order) — refuse with
    a message naming the workable bits value."""
    from funnel_rocket_spark.sources.ingest import zorder_key

    df = spark.range(4).select(
        *[(F.col("id") + i).alias(f"c{i}") for i in range(8)])
    with pytest.raises(ValueError, match="exceeds 63"):
        zorder_key(df, [f"c{i}" for i in range(8)], bits=8)
    # 63 bits exactly is fine (7 cols x 9 bits)
    out = zorder_key(df, [f"c{i}" for i in range(7)], bits=9)
    assert out.count() == 4


# --------------------------------------------------------------------------- #
# exact heavy hitters


def test_heavy_hitters_exact_on_skewed_data(spark):
    """Zipf-ish synthetic column with FAR more distinct values than
    counters: the two-pass result must equal the full groupBy top-k."""
    df = spark.range(20_000).select(
        (F.floor(F.pow(F.rand(seed=5), 4) * 2000)).cast("long")
        .alias("v"))
    df = df.persist()
    got = [(r["value"], r["cnt"]) for r in skew.heavy_hitters(
        df, "v", k=10, counters=256).collect()]
    want = [(r["v"], r["cnt"]) for r in
            df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("v")).limit(10).collect()]
    assert got == want


def test_heavy_hitters_raises_below_bound(spark):
    """Uniform data with tiny counters cannot certify a top-k — the
    operator must refuse rather than return a plausible-but-unproven list."""
    df = spark.range(8_000).select((F.col("id") % 4000).alias("v"))
    with pytest.raises(ValueError, match="Misra-Gries bound"):
        skew.heavy_hitters(df, "v", k=10, counters=8)


def test_heavy_hitters_nulls_ignored(spark):
    df = spark.createDataFrame(
        [(None,), ("a",), ("a",), ("b",)], "v string")
    got = [(r["value"], r["cnt"]) for r in skew.heavy_hitters(
        df, "v", k=2, counters=16).collect()]
    assert got == [("a", 2), ("b", 1)]


from hypothesis import assume  # noqa: E402


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(weights=st.lists(st.integers(1, 60), min_size=3, max_size=25))
def test_heavy_hitters_matches_groupby_or_refuses(spark, weights):
    """For ANY frequency profile: heavy_hitters either returns exactly the
    groupBy top-k or raises the certification error — never a wrong list."""
    rows = [(f"v{i}",) for i, w in enumerate(weights) for _ in range(w)]
    df = spark.createDataFrame(rows, "v string")
    want = [(r["v"], r["cnt"]) for r in
            df.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("v")).limit(5).collect()]
    try:
        got = [(r["value"], r["cnt"]) for r in skew.heavy_hitters(
            df, "v", k=5, counters=8).collect()]
    except ValueError:
        return  # refusal is always acceptable; wrong output is not
    assert got == want


def test_assign_split_disjoint_exhaustive(spark, docs):
    out = sampling.assign_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == docs.count()  # exhaustive by construction
    n = docs.count()
    assert abs(counts.get("train", 0) - 0.8 * n) < 4 * (0.8 * 0.2 * n) ** 0.5 + 1
    # deterministic: second run identical assignment
    a = sorted(map(tuple, out.select("doc_id", "split").collect()))
    b = sorted(map(tuple, sampling.assign_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1})
        .select("doc_id", "split").collect()))
    assert a == b


def test_assign_split_weights_must_sum(spark, docs):
    with pytest.raises(ValueError):
        sampling.assign_split(docs, {"train": 0.8, "val": 0.1})


def test_assign_split_independent_of_dict_order(spark, docs):
    a = sorted(map(tuple, sampling.assign_split(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05})
        .select("doc_id", "split").collect()))
    b = sorted(map(tuple, sampling.assign_split(
        docs, {"test": 0.05, "val": 0.05, "train": 0.9})
        .select("doc_id", "split").collect()))
    assert a == b


def test_funnel_trend_single_user_exchange(spark):
    """Both windows and the per-user aggregate ride ONE user-keyed
    exchange; the day rollup is the only other shuffle; no join at all."""
    out = bq.QUERIES["behavior_funnel_trend"][0](spark, SF)
    plan = formatted_plan(out)
    assert "Join" not in plan, plan
    assert count_exchanges(out) <= 2, plan


@pytest.mark.parametrize("name", ["behavior_session_funnel",
                                  "behavior_session_funnel_bounded"])
def test_session_funnel_single_group_exchange(spark, name):
    """session_funnel gained the engine's anchor compiler in round 3 —
    gate that the sessionization window, the per-(group, session) anchor
    windows, and the per-session collapse still all ride ONE group-keyed
    exchange (prefix-compatible partitioning/sort), with only the tiny
    final step-count reduce as the second (single-partition) exchange.
    No join anywhere."""
    out = bq.QUERIES[name][0](spark, SF)
    plan = formatted_plan(out)
    assert "Join" not in plan, plan
    assert count_exchanges(out) <= 2, plan
    # exactly one of them is the group-keyed hash exchange; the other is
    # the SinglePartition final reduce, never a second data-sized shuffle
    assert plan.count("hashpartitioning") <= 1, plan


# --------------------------------------------------------------------------- #
# windowed row universe (adaptive aggregation path)


UNIVERSE_QUERIES = [
    {"query": {"conditions": [{"filter": ["event_type", "==", "purchase"],
                               "target": ["count", ">=", 1]}]}},
    {"query": {"conditions": [{"filter": ["event_type", "==", "purchase"],
                               "target": ["count", ">=", 3]}]}},
    {"query": {"conditions": [{"filter": ["event_type", "==", "error"],
                               "target": ["count", "==", 0],
                               "includeZero": True}]}},
    {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"],
         "target": ["sum", "value", ">", 900.37]}]}},
    {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 1]},
        {"filter": ["event_type", "==", "click"], "target": ["count", ">=", 5]}],
        "relation": "$0 or $1"}},
    {"query": {"conditions": [{"sequence": [
        {"filter": ["event_type", "==", "view"]},
        {"filter": ["event_type", "==", "purchase"]}]}]}},
]


@pytest.mark.parametrize("q", UNIVERSE_QUERIES,
                         ids=[f"shape{i}" for i in range(len(UNIVERSE_QUERIES))])
def test_windowed_universe_equals_join(spark, q):
    from funnel_rocket_spark.engine import QueryEngine

    ev = bq.ts_ns(bq.load_table(spark, SF, "events"))
    eng = QueryEngine("user_id", "ts")
    plan = eng.plan(ev, q)
    # the universe is projected to used columns — compare full-row multisets
    join_df = plan.rows_of_matching_groups(strategy="join")
    win_df = plan.rows_of_matching_groups(strategy="window")
    cols = sorted(join_df.columns)
    assert cols == sorted(win_df.columns)
    join_rows = sorted(map(tuple, join_df.select(*cols).collect()))
    win_rows = sorted(map(tuple, win_df.select(*cols).collect()))
    assert join_rows == win_rows
    if "includeZero" not in str(q):  # zero-error groups may not exist at sf0.001
        assert len(join_rows) > 0


def test_windowed_universe_plan_is_join_free(spark):
    from funnel_rocket_spark.engine import QueryEngine

    ev = bq.ts_ns(bq.load_table(spark, SF, "events"))
    eng = QueryEngine("user_id", "ts")
    plan = eng.plan(ev, UNIVERSE_QUERIES[0])
    out = plan.rows_of_matching_groups(strategy="window")
    p = formatted_plan(out)
    assert "Join" not in p, p
    assert count_exchanges(out) == 1, p  # one group-keyed window exchange


def test_engine_adaptive_universe_matches_join_results(spark, monkeypatch):
    """Force the window path (threshold 0) and compare the full engine
    result JSON against the join path (threshold huge)."""
    from funnel_rocket_spark.engine import QueryEngine
    from funnel_rocket_spark.engine import engine as engine_mod

    ev = bq.ts_ns(bq.load_table(spark, SF, "events"))
    q = {"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"], "target": ["count", ">=", 1]}],
        "aggregations": [{"column": "event_type", "type": "countPerValue",
                          "top": 10}]}}
    results = []
    for threshold in (0, 10**12):
        monkeypatch.setattr(engine_mod, "UNIVERSE_WINDOW_THRESHOLD",
                            threshold)
        results.append(QueryEngine("user_id", "ts").run(ev, q,
                                                        with_stats=True))
    low, high = results
    assert low["stats"]["strategies"]["universe"] == "window"
    assert high["stats"]["strategies"]["universe"] == "join"
    assert {k: low[k] for k in ("query", "funnel")} == \
        {k: high[k] for k in ("query", "funnel")}


def test_funnel_labeled_anchor_equals_join(spark):
    """The two labeled-universe forms agree row for row at every step:
    rows semi-joined to the matched groups, and the join-free window
    universe; both label each row from the window anchors."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark.engine import QueryEngine
    from funnel_rocket_spark.planner.compiler import DONE_COL

    ev = bq.ts_ns(bq.load_table(spark, SF, "events"))
    eng = QueryEngine("user_id", "ts")
    q = {"query": {"conditions": [{"filter": ["event_type", "==", "click"],
                                   "target": ["count", ">=", 2]}]},
         "funnel": {"sequence": [
             {"filter": ["event_type", "==", "view"]},
             {"filter": ["event_type", "==", "click"]},
             {"filter": ["event_type", "==", "purchase"]}],
             "stepAggregations": [{"column": "event_type",
                                   "type": "sumPerValue",
                                   "otherColumn": "value"}]}}
    plan = eng.plan(ev, q)
    join = plan.labeled("join")
    window = plan.labeled("window")
    cols = sorted(join.columns)
    assert cols == sorted(window.columns) == sorted(
        ["user_id", "event_type", "value", DONE_COL])
    for step in range(3):
        j, w = (sorted(map(tuple, f.filter(F.col(DONE_COL) > step)
                           .select(*cols).collect()))
                for f in (join, window))
        assert j and j == w, step
    assert "Join" in formatted_plan(join)
    assert "Join" not in formatted_plan(window)


def test_engine_funnel_adaptive_matches_join(spark, monkeypatch):
    from funnel_rocket_spark.engine import QueryEngine
    from funnel_rocket_spark.engine import engine as engine_mod

    ev = bq.ts_ns(bq.load_table(spark, SF, "events"))
    q = {"query": {"conditions": [
        {"filter": ["event_type", "==", "view"], "target": ["count", ">=", 1]}]},
        "funnel": {"sequence": [
            {"filter": ["event_type", "==", "view"]},
            {"filter": ["event_type", "==", "purchase"]}],
            "stepAggregations": [{"column": "event_type",
                                  "type": "countPerValue", "top": 5}],
            "endAggregations": [{"column": "event_type",
                                 "type": "countPerValue", "top": 5}]}}
    results = []
    for threshold in (0, 10**12):
        monkeypatch.setattr(engine_mod, "UNIVERSE_WINDOW_THRESHOLD",
                            threshold)
        results.append(QueryEngine("user_id", "ts").run(ev, q,
                                                        with_stats=True))
    low, high = results
    assert low["stats"]["strategies"]["universe"] == "window"
    assert high["stats"]["strategies"]["universe"] == "join"
    assert {k: low[k] for k in ("query", "funnel")} == \
        {k: high[k] for k in ("query", "funnel")}


def test_exact_substring_spans_fingerprint_invariant(spark, docs):
    """The fingerprint only mediates window EQUALITY — md5 (the portable
    oracle twin) and xxhash64 (8-byte keys; the 2M rung measured the md5
    hex sort spilling at 212 s vs 35 s) must yield identical spans."""
    from funnel_rocket_spark.operators.text import exact_substring_spans

    fast = sorted(map(tuple, exact_substring_spans(
        docs, window=20, fingerprint="xxhash64").collect()))
    portable = sorted(map(tuple, exact_substring_spans(
        docs, window=20, fingerprint="md5").collect()))
    assert fast == portable and len(fast) > 0


def test_time_zorder_two_level_layout(spark, tmp_path):
    """write_time_zordered composes date partitions (timeframe prunes
    directories) with intra-partition Z-order (filters on either z-column
    prune files inside a date). Verify both levels plus the round trip."""
    from funnel_rocket_spark.sources.ingest import write_time_zordered

    ev = bq.load_table(spark, SF, "events").select(
        "user_id", "value", "ts", "event_type")
    path = str(tmp_path / "tz")
    write_time_zordered(ev, path, "ts", ["user_id", "value"], bits=4)
    back = spark.read.parquet(path)
    assert back.count() == ev.count()
    # level 1: hive date dirs exist and a date filter prunes partitions
    import os

    dates = [d for d in os.listdir(path) if d.startswith("__pdate=")]
    assert len(dates) > 1
    one = dates[0].split("=", 1)[1]
    pruned = back.where(F.col("__pdate") == one)
    files = {r["f"] for r in pruned.withColumn(
        "f", F.input_file_name()).select("f").distinct().collect()}
    assert all(f"__pdate={one}" in f for f in files)
    # level 2: inside one date dir with several files, per-file ranges of
    # BOTH z-columns sit well below the date's full span
    day = back.where(F.col("__pdate") == one)
    per_file = (day.withColumn("f", F.input_file_name())
                .groupBy("f")
                .agg((F.max("user_id") - F.min("user_id")).alias("wu"),
                     (F.max("value") - F.min("value")).alias("wv")))
    rows = per_file.collect()
    if len(rows) > 2:  # enough files for clustering to be observable
        span_u = day.agg(F.max("user_id") - F.min("user_id")).collect()[0][0]
        span_v = day.agg(F.max("value") - F.min("value")).collect()[0][0]
        assert sum(r["wu"] for r in rows) / len(rows) < 0.9 * span_u
        assert sum(r["wv"] for r in rows) / len(rows) < 0.9 * span_v


def test_semantic_dedup_string_ids_gemm(spark):
    """The gemm pair schema follows the ACTUAL id type — a chain with
    string doc ids (urls) must work, and gemm must equal expr on it."""
    from funnel_rocket_spark.operators import similarity

    vecs = [(f"url_{i}", [1.0, 0.0] if i < 2 else [0.0, 1.0])
            for i in range(6)]
    emb = spark.createDataFrame(
        vecs, "vec_id string, embedding array<float>")
    gemm = sorted(map(tuple, similarity.semantic_dedup_pairs(
        emb, k=1, threshold=0.99, method="gemm").collect()))
    expr = sorted(map(tuple, similarity.semantic_dedup_pairs(
        emb, k=1, threshold=0.99, method="expr").collect()))
    assert gemm == expr
    assert ("url_0", "url_1", 1.0) in gemm


def test_semantic_contamination_methods_and_ids(spark):
    """broadcast == expr exactly (cross-set hits incl. the self-hit of a
    leaked eval member at cosine 1); lsh is precision-1 (every emitted
    hit is a true hit); string ids ride through both tiers; docs with
    null vectors are ignored on either side."""
    from funnel_rocket_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(f"doc_{i}",
          [1.0, 0.0] if i == 0 else
          ([0.99, 0.141] if i == 1 else [0.0, 1.0]))
         for i in range(5)] + [("doc_null", None)],
        "vec_id string, embedding array<float>")
    evalset = spark.createDataFrame(
        [("eval_a", [1.0, 0.0]), ("eval_null", None)],
        "vec_id string, embedding array<float>")

    def run(m):
        return sorted(map(tuple, similarity.semantic_contamination(
            corpus, evalset, threshold=0.95, method=m).collect()))

    bro, expr = run("broadcast"), run("expr")
    assert bro == expr
    hit_ids = {t[0] for t in bro}
    assert hit_ids == {"doc_0", "doc_1"}  # cos(doc_1, eval_a) ≈ 0.99
    assert all(t[1] == "eval_a" and t[2] >= 0.95 for t in bro)
    lsh = run("lsh")
    assert set(lsh) <= set(bro)  # precision 1, recall <= 1

    # auto on a tiny in-memory eval side: bounded probe -> broadcast
    auto = sorted(map(tuple, similarity.semantic_contamination(
        corpus, evalset, threshold=0.95).collect()))
    assert auto == bro

    import pytest
    with pytest.raises(ValueError, match="method"):
        similarity.semantic_contamination(corpus, evalset, method="nope")


def test_semantic_contamination_edge_shapes(spark):
    """Empty eval set -> zero hits (not a driver AxisError); empty
    corpus through the lsh tier -> zero hits (not a NoneType deref);
    mismatched numeric id types ride the lsh union as strings and come
    back in their own types (int-vs-bigint must not wrap eval ids)."""
    from funnel_rocket_spark.operators import similarity

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id int, embedding array<float>")
    empty_eval = spark.createDataFrame([], "vec_id int, embedding array<float>")
    assert similarity.semantic_contamination(
        corpus, empty_eval, method="broadcast").count() == 0
    # all-null vectors behave like empty after drop_null_vectors
    null_eval = spark.createDataFrame(
        [(9, None)], "vec_id int, embedding array<float>")
    assert similarity.semantic_contamination(
        corpus, null_eval, method="broadcast").count() == 0

    empty_corpus = spark.createDataFrame(
        [], "vec_id int, embedding array<float>")
    big_eval = spark.createDataFrame(
        [(2**40, [1.0, 0.0])], "vec_id bigint, embedding array<float>")
    assert similarity.semantic_contamination(
        empty_corpus, big_eval, method="lsh").count() == 0

    # int corpus ids x bigint eval ids, past 2^31: value must round-trip
    got = similarity.semantic_contamination(
        corpus, big_eval, threshold=0.99, method="lsh").collect()
    assert [(r["vec_id"], r["eval_id"]) for r in got] == [(1, 2**40)]
    schema = dict(similarity.semantic_contamination(
        corpus, big_eval, method="lsh").dtypes)
    assert schema["vec_id"] == "int" and schema["eval_id"] == "bigint"

    # empty corpus through embedding_dup_pairs' lsh tier too
    assert similarity.embedding_dup_pairs(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        method="lsh").count() == 0
    # ...and through the numpy (broadcast) tier — used to AxisError on
    # the driver in _unit_rows over a 0-row array
    assert similarity.embedding_dup_pairs(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        method="numpy").count() == 0

    # a corpus id literally named "eval_id" would collide with the fixed
    # eval-side output column name: refused up front
    import pytest
    renamed = corpus.withColumnRenamed("vec_id", "eval_id")
    with pytest.raises(ValueError, match="eval_id"):
        similarity.semantic_contamination(
            renamed, big_eval, id_col="eval_id", eval_id_col="vec_id",
            method="broadcast")
