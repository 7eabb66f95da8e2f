"""CLI round-trip — parity with the reference's frocket/cli.py command set:
register → list → info → run → unregister → config, driven in-process
through main(argv) (getOrCreate reuses the test SparkSession)."""

import json

from funnel_rocket_spark import cli

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


def _run(capsys, *argv) -> tuple[int, str]:
    rc = cli.main(list(argv))
    return rc, capsys.readouterr().out


def test_cli_roundtrip(spark, tmp_path, capsys):
    catalog = str(tmp_path / "catalog")

    rc, out = _run(capsys, "--catalog", catalog, "register", "ev",
                   SF_EVENTS, "user_id", "ts")
    assert rc == 0
    assert json.loads(out)["rows"] == 1000

    rc, out = _run(capsys, "--catalog", catalog, "list")
    assert rc == 0 and out.startswith("ev\t")

    rc, out = _run(capsys, "--catalog", catalog, "info", "ev")
    assert rc == 0
    meta = json.loads(out)
    assert meta["name"] == "ev" and "columns" not in meta

    rc, out = _run(capsys, "--catalog", catalog, "info", "ev", "--full")
    assert rc == 0 and "columns" in json.loads(out)

    rc, out = _run(capsys, "--catalog", catalog, "run", "ev", "--empty")
    assert rc == 0
    assert json.loads(out)["query"]["matchingGroupRows"] == 1000

    q = json.dumps({"query": {"conditions": [
        {"filter": ["event_type", "==", "purchase"],
         "target": ["count", ">=", 3]}]}})
    rc, out = _run(capsys, "--catalog", catalog, "run", "ev", "--string", q)
    assert rc == 0
    assert json.loads(out)["query"]["matchingGroups"] == 15

    # just queried → the in-use guard refuses without --force
    rc, out = _run(capsys, "--catalog", catalog, "unregister", "ev")
    assert rc == 1 and json.loads(out)["success"] is False

    rc, out = _run(capsys, "--catalog", catalog, "unregister", "ev", "--force")
    assert rc == 0
    body = json.loads(out)
    assert body["success"] and body["removed"] and body["force"]
    assert body["datasetLastUsed"] is not None

    rc, out = _run(capsys, "--catalog", catalog, "list")
    assert rc == 0 and out == ""

    # idempotent-but-signalled: unregistering a missing dataset exits 2
    rc, out = _run(capsys, "--catalog", catalog, "unregister", "ev")
    assert rc == 2 and json.loads(out)["removed"] is False


def test_cli_config(capsys):
    rc, out = _run(capsys, "config")
    assert rc == 0
    conf = json.loads(out)
    assert conf["spark.sql.adaptive.enabled"] is True
    assert "catalog.dir" in conf


def test_cli_config_prints_the_live_session_conf(spark, capsys, monkeypatch):
    """``config`` prints ``session.spark_conf``, the settings get_spark
    applies, so every printed Spark key reads the same value on a
    get_spark session, and PySpark's per-call call-site capture is
    off."""
    from pyspark.errors.utils import is_debugging_enabled

    from funnel_rocket_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")  # the test session's local[4]
    live = get_spark().conf
    rc, out = _run(capsys, "config")
    printed = json.loads(out)
    assert rc == 0 and printed.pop("catalog.dir")
    assert printed["spark.sql.legacy.bucketedTableScan.outputOrdering"]
    assert printed["spark.python.sql.dataFrameDebugging.enabled"] is False
    for key, value in printed.items():
        want = str(value).lower() if isinstance(value, bool) else str(value)
        assert live.get(key) == want, key
    # PySpark reads the flag once per process: plans here are built
    # without call-site capture
    assert is_debugging_enabled() is False


def test_packaging_installed_entry_point(tmp_path):
    """Installability parity with the reference's pip distribution
    (/root/reference/setup.py:13): install into a CLEAN venv and drive the
    console entry point end-to-end — register a dataset, run the empty
    query, all through the installed `funnel-rocket-spark` script, not the
    checkout. Uses `setup.py install` because this sandbox lacks the
    `wheel` package PEP 517 builds require; with wheel present,
    `pip install .` resolves through pyproject.toml identically."""
    import os
    import shutil
    import subprocess
    import sys

    # build from a copy, so the install leaves nothing in the checkout
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = tmp_path / "src"
    shutil.copytree(os.path.join(repo, "funnel_rocket_spark"),
                    src / "funnel_rocket_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    for name in ("setup.py", "pyproject.toml"):
        shutil.copy(os.path.join(repo, name), src)
    venv = tmp_path / "venv"
    subprocess.run([sys.executable, "-m", "venv", "--system-site-packages",
                    str(venv)], check=True)
    py = str(venv / "bin" / "python")
    subprocess.run([py, "setup.py", "-q", "install"], cwd=str(src),
                   check=True, capture_output=True)
    exe = str(venv / "bin" / "funnel-rocket-spark")
    assert os.path.exists(exe)
    assert os.path.exists(str(venv / "bin" / "funnel-rocket-spark-api"))

    # import resolves from site-packages, not the checkout (cwd=tmp_path)
    mod = subprocess.run(
        [py, "-c", "import funnel_rocket_spark as f; print(f.__file__)"],
        cwd=str(tmp_path), check=True, capture_output=True, text=True)
    assert str(venv) in mod.stdout

    env = {**os.environ, "SPARK_GRAFT_CPUS": "4"}
    out = subprocess.run([exe, "config"], cwd=str(tmp_path), check=True,
                         capture_output=True, text=True, env=env)
    cfg = json.loads(out.stdout)
    assert cfg["spark.master"] == "local[4]"

    catalog = str(tmp_path / "catalog")
    subprocess.run(
        [exe, "--catalog", catalog, "register", "ev",
         "/root/testdata/sf0.001/events.parquet", "user_id", "ts"],
        cwd=str(tmp_path), check=True, capture_output=True, env=env,
        timeout=300)
    run = subprocess.run(
        [exe, "--catalog", catalog, "run", "ev", "--empty"],
        cwd=str(tmp_path), check=True, capture_output=True, text=True,
        env=env, timeout=300)
    assert json.loads(run.stdout)["query"]["matchingGroupRows"] == 1000


DOCS = "/root/testdata/sf0.001/documents.parquet"


def _curate_config(tmp_path, eval_path):
    return {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "output": {"path": str(tmp_path / "release"), "format": "jsonl",
                   "shards": 2},
        "stages": [
            {"stage": "c4_clean", "min_words_per_line": 2,
             "require_terminal_punct": False},
            {"stage": "gopher_filter", "min_words": 5,
             "min_stopword_hits": 0, "min_mean_word_len": 1.0},
            {"stage": "dedup_exact"},
            {"stage": "decontaminate", "eval_path": eval_path, "n": 8},
            {"stage": "mixture",
             "weights": {"en": 0.4, "de": 0.2, "es": 0.2, "fr": 0.1,
                         "zh": 0.1},
             "strata_col": "lang", "total_tokens": 8000},
        ],
    }


def test_cli_curate_full_chain_and_resume(spark, tmp_path, capsys):
    import glob
    import os
    import shutil

    # tiny held-out eval set: 20 docs become the contamination source
    eval_path = str(tmp_path / "eval.parquet")
    spark.read.parquet(DOCS).limit(20).write.parquet(eval_path)
    cfg_path = tmp_path / "pipeline.json"
    cfg_path.write_text(json.dumps(_curate_config(tmp_path, eval_path)))

    rc, out = _run(capsys, "curate", "--config", str(cfg_path))
    assert rc == 0
    rep = json.loads(out)
    assert rep["rows_in"] == 500
    assert [s["stage"] for s in rep["stages"]] == [
        "c4_clean", "gopher_filter", "dedup_exact", "decontaminate",
        "mixture"]
    # every stage ran (nothing to resume on a fresh workdir) and the
    # chain monotonically filters (mixture keeps a strict subset)
    assert all(s["resumed"] is False for s in rep["stages"])
    rows = [rep["rows_in"]] + [s["rows_out"] for s in rep["stages"]]
    assert all(a >= b for a, b in zip(rows, rows[1:]))
    assert rep["rows_out"] > 0
    # sharded JSONL landed
    parts = glob.glob(str(tmp_path / "release" / "part-*"))
    assert len(parts) == 2
    with open(parts[0]) as fh:
        rec = json.loads(fh.readline())
    assert "doc_id" in rec and "text" in rec

    # simulate a kill during stage 3: its checkpoint is incomplete
    work = str(tmp_path / "work")
    shutil.rmtree(os.path.join(work, "stage_03_decontaminate.parquet"))
    rc, out = _run(capsys, "curate", "--config", str(cfg_path))
    assert rc == 0
    rep2 = json.loads(out)
    flags = [s["resumed"] for s in rep2["stages"]]
    assert flags == [True, True, True, False, False]
    # deterministic: recomputed tail reproduces the first run exactly
    assert ([s["rows_out"] for s in rep2["stages"]]
            == [s["rows_out"] for s in rep["stages"]])

    # editing a mid-chain stage invalidates from that stage on
    cfg = _curate_config(tmp_path, eval_path)
    cfg["stages"][1]["min_words"] = 6
    cfg_path.write_text(json.dumps(cfg))
    rc, out = _run(capsys, "curate", "--config", str(cfg_path))
    assert rc == 0
    rep3 = json.loads(out)
    assert ([s["resumed"] for s in rep3["stages"]]
            == [True, False, False, False, False])

    # --no-resume recomputes everything
    rc, out = _run(capsys, "curate", "--config", str(cfg_path),
                   "--no-resume")
    assert rc == 0
    assert all(s["resumed"] is False
               for s in json.loads(out)["stages"])


def test_cli_curate_unknown_stage_fails_fast(spark, tmp_path, capsys):
    import pytest

    cfg = {"input": {"path": DOCS}, "workdir": str(tmp_path / "w"),
           "stages": [{"stage": "nope"}]}
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(cfg))
    with pytest.raises(ValueError, match="unknown stage"):
        cli.main(["curate", "--config", str(p)])


def test_pipeline_true_token_stages(spark, tmp_path):
    """bpe_count → mixture(token_col) → split as a pipeline chain:
    the one-command path for budgeting on TRUE tokenizer counts."""
    from funnel_rocket_spark.pipeline import run_pipeline

    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            {"stage": "bpe_count", "learn": 8},
            {"stage": "mixture",
             "weights": {"en": 0.5, "de": 0.5}, "strata_col": "lang",
             "total_tokens": 40_000, "token_col": "n_bpe_tokens"},
            {"stage": "split",
             "weights": {"train": 0.8, "val": 0.1, "test": 0.1}},
        ],
    }
    rep = run_pipeline(spark, config)
    assert rep["rows_out"] > 0
    final = spark.read.parquet(
        str(tmp_path / "work" / "stage_02_split.parquet"))
    cols = set(final.columns)
    assert {"n_bpe_tokens", "split"} <= cols
    splits = {r["split"] for r in final.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    # mixture stage really budgeted on the BPE column: kept en-docs'
    # BPE tokens approximate the 20k en target (doc-length noise)
    from pyspark.sql import functions as F
    en_toks = (final.where(F.col("lang") == "en")
               .agg(F.sum("n_bpe_tokens")).collect()[0][0])
    assert 14_000 <= en_toks <= 26_000


def test_pipeline_classifier_gate_stage(spark, tmp_path):
    from funnel_rocket_spark.pipeline import run_pipeline
    from pyspark.sql import functions as F

    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            {"stage": "classifier_gate", "train_label_token": "spark",
             "vocab": ["data", "fast", "join", "query", "scan", "slow",
                       "spark", "table"],
             "iterations": 8, "threshold": 0.5},
        ],
    }
    rep = run_pipeline(spark, config)
    kept = spark.read.parquet(
        str(tmp_path / "work" / "stage_00_classifier_gate.parquet"))
    # separable label + converged perceptron (8 iterations reach zero
    # mistakes on this corpus): the gate IS the label
    docs = spark.read.parquet(DOCS)
    n_label = docs.where(
        F.array_contains(F.split(F.lower("text"), r"\s+"), "spark")).count()
    assert 0 < rep["rows_out"] < rep["rows_in"]
    assert rep["rows_out"] == n_label == kept.count()

    # explicit-weights form gates without training
    config2 = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "w2"),
        "stages": [
            {"stage": "classifier_gate",
             "weights": {"spark": 5.0, "__bias__": -1.0},
             "threshold": 0.5}],
    }
    rep2 = run_pipeline(spark, config2)
    assert 0 < rep2["rows_out"] < rep2["rows_in"]


def test_pipeline_lm_gate_stage(spark, tmp_path):
    from funnel_rocket_spark.pipeline import run_pipeline

    # target = the 'en' slice written out as the high-quality corpus
    target_path = str(tmp_path / "target.parquet")
    (spark.read.parquet(DOCS).where("lang = 'en'")
     .write.parquet(target_path))
    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            {"stage": "lm_gate", "target_path": target_path,
             "keep_frac": 0.5},
        ],
    }
    rep = run_pipeline(spark, config)
    # keep_frac=0.5 keeps about half (quantile ties make it inexact)
    assert 0.35 * rep["rows_in"] <= rep["rows_out"] <= 0.65 * rep["rows_in"]

    # frames-native trainer gates IDENTICALLY (bit-equal model): same
    # keep set through the whole stage
    config["workdir"] = str(tmp_path / "work_frames")
    config["stages"][0]["frames"] = True
    rep_f = run_pipeline(spark, config)
    assert rep_f["rows_out"] == rep["rows_out"]


def test_pipeline_survives_emptying_chain(spark, tmp_path):
    """A chain whose cleaning stage drops EVERY document must finish with
    rows_out=0, not crash downstream stages (learn-BPE trains an empty
    table -> char-level base case; mixture plans 0-row strata; lm_gate's
    quantile cut has nothing to rank)."""
    from funnel_rocket_spark.pipeline import run_pipeline

    target_path = str(tmp_path / "target.parquet")
    (spark.read.parquet(DOCS).limit(10).write.parquet(target_path))
    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            # impossible threshold: every doc fails the word-count band
            {"stage": "gopher_filter", "min_words": 10**6},
            {"stage": "bpe_count", "learn": 8},
            {"stage": "mixture", "weights": {"en": 1.0},
             "strata_col": "lang", "total_tokens": 1000,
             "token_col": "n_bpe_tokens"},
            {"stage": "lm_gate", "target_path": target_path,
             "keep_frac": 0.5},
        ],
    }
    rep = run_pipeline(spark, config)
    assert rep["rows_out"] == 0
    assert [s["rows_out"] for s in rep["stages"]] == [0, 0, 0, 0]


def test_chain_hash_invalidates_on_side_input_change(tmp_path):
    """Overwriting a stage's SIDE dataset (decontaminate eval_path,
    dsir/lm_gate target_path) must invalidate that stage's checkpoint:
    the config JSON is unchanged, so without a data fingerprint resume
    would silently replay a checkpoint computed against the OLD eval
    set."""
    import time as _time

    from funnel_rocket_spark.pipeline import _chain_hashes

    inp = tmp_path / "in.parquet"
    ev = tmp_path / "eval.parquet"
    inp.write_bytes(b"x")
    ev.write_bytes(b"eval-v1")
    cfg = {"input": {"path": str(inp)},
           "stages": [{"stage": "gopher_filter", "min_words": 1},
                      {"stage": "decontaminate", "eval_path": str(ev)},
                      {"stage": "split", "weights": {"train": 1.0}}]}
    before = _chain_hashes(cfg)
    _time.sleep(0.01)
    ev.write_bytes(b"eval-v2-longer")  # size AND mtime change
    after = _chain_hashes(cfg)
    assert before[0] == after[0]          # stages before: untouched
    assert before[1] != after[1]          # the decontaminate stage
    assert before[2] != after[2]          # ...and everything after


def test_pipeline_chain_hash_properties():
    """Resume correctness is a function of _chain_hashes: editing stage i
    (or the input block) changes hashes i.. and ONLY i.. — hypothesis
    over random configs and random single edits."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from funnel_rocket_spark.pipeline import _chain_hashes

    stage = st.fixed_dictionaries(
        {"stage": st.sampled_from(["a", "b", "c"]),
         "knob": st.integers(0, 3)})
    cfg_st = st.fixed_dictionaries(
        {"input": st.fixed_dictionaries({"path": st.sampled_from(["p", "q"])}),
         "stages": st.lists(stage, min_size=1, max_size=6)})

    @settings(max_examples=200, deadline=None)
    @given(cfg=cfg_st, data=st.data())
    def prop(cfg, data):
        h1 = _chain_hashes(cfg)
        assert len(h1) == len(cfg["stages"])
        # identical config -> identical chain (pure function)
        assert _chain_hashes(json.loads(json.dumps(cfg))) == h1
        # edit one stage's knob: prefix hashes unchanged, suffix changed
        i = data.draw(st.integers(0, len(cfg["stages"]) - 1))
        edited = json.loads(json.dumps(cfg))
        edited["stages"][i]["knob"] = cfg["stages"][i]["knob"] + 10
        h2 = _chain_hashes(edited)
        assert h2[:i] == h1[:i]
        assert all(a != b for a, b in zip(h2[i:], h1[i:]))
        # input edit invalidates everything
        edited2 = json.loads(json.dumps(cfg))
        edited2["input"]["path"] = cfg["input"]["path"] + "x"
        assert all(a != b for a, b in zip(_chain_hashes(edited2), h1))

    prop()


def test_pipeline_dedup_exact_null_text(spark, tmp_path):
    """Null-text documents form ONE duplicate class (exact_duplicates
    groups them under the null digest): dedup_exact must keep exactly
    the keep_id survivor, not let every null-text row bypass the join."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark.pipeline import run_pipeline

    inp = str(tmp_path / "docs.parquet")
    rows = [(1, "alpha beta", "en"), (2, "alpha beta", "en"),
            (3, None, "en"), (4, None, "de"), (5, None, "fr"),
            (6, "unique text", "en")]
    (spark.createDataFrame(rows, "doc_id long, text string, lang string")
     .write.parquet(inp))
    config = {
        "input": {"path": inp, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [{"stage": "dedup_exact"}],
    }
    rep = run_pipeline(spark, config)
    kept = spark.read.parquet(
        str(tmp_path / "work" / "stage_00_dedup_exact.parquet"))
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    # text dup class keeps id 1; the three null-text rows keep id 3
    assert ids == [1, 3, 6]
    assert rep["rows_out"] == 3
    # null survivor still has null text
    assert kept.where(F.col("doc_id") == 3).collect()[0]["text"] is None


def test_pipeline_resume_invalidated_by_input_rewrite(spark, tmp_path):
    """Overwriting the input parquet in place must invalidate every
    checkpoint: the chain hash folds a (size, mtime) fingerprint of the
    input files, so a resume after an in-place rewrite recomputes from
    stage 0 on the NEW data instead of reporting stale success."""
    from funnel_rocket_spark.pipeline import run_pipeline

    inp = str(tmp_path / "docs.parquet")
    (spark.read.parquet(DOCS).limit(40).write.parquet(inp))
    config = {
        "input": {"path": inp, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [{"stage": "split", "weights": {"a": 0.5, "b": 0.5}}],
    }
    rep1 = run_pipeline(spark, config)
    assert rep1["rows_in"] == 40 and not rep1["stages"][0]["resumed"]
    # unchanged input -> resumed
    rep2 = run_pipeline(spark, config)
    assert rep2["stages"][0]["resumed"]
    # rewrite the input in place with DIFFERENT data
    (spark.read.parquet(DOCS).limit(10)
     .write.mode("overwrite").parquet(inp))
    rep3 = run_pipeline(spark, config)
    assert not rep3["stages"][0]["resumed"]
    assert rep3["rows_in"] == rep3["rows_out"] == 10


def test_pipeline_pack_pretokenized(spark, tmp_path):
    """pack with "pretokenized": true packs the bpe_count stage's BPE
    stream (exact tokenizer tokens), matching pack_token_blocks called
    directly with the split bpe_text — the last step of the exact-count
    chain bpe_count -> mixture(token_col) -> pack."""
    from pyspark.sql import functions as F

    from funnel_rocket_spark.operators import text as T
    from funnel_rocket_spark.pipeline import run_pipeline

    merges = [["e", "r"], ["t", "h"], ["th", "e"], ["i", "n"]]
    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            {"stage": "bpe_count", "merges": merges, "keep_bpe_text": True},
            {"stage": "pack", "block_size": 64, "shards": 4,
             "pretokenized": True},
        ],
    }
    rep = run_pipeline(spark, config)
    got = (spark.read.parquet(
        str(tmp_path / "work" / "stage_01_pack.parquet"))
        .select("shard", "block_id", "n_docs", "n_tokens", "block_md5"))
    # oracle: pack the same BPE stream directly
    docs = spark.read.parquet(DOCS)
    enc = T.bpe_tokenize(docs, [tuple(m) for m in merges])
    pre = docs.join(enc.select("doc_id", "bpe_text"), "doc_id").withColumn(
        "__pt", F.filter(F.split(F.coalesce("bpe_text", F.lit("")), " "),
                         lambda t: t != F.lit("")))
    want = (T.pack_token_blocks(pre, "text", "doc_id", block_size=64,
                                shards=4, pretokenized_col="__pt")
            .select("shard", "block_id", "n_docs", "n_tokens", "block_md5"))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert rep["rows_out"] > 0
    # blocks are exactly 64 TRUE tokens except per-shard tails
    from collections import Counter
    short = Counter(r["shard"] for r in got.where("n_tokens < 64").collect())
    assert all(v == 1 for v in short.values())


def test_pipeline_pack_pretokenized_requires_bpe_text(spark, tmp_path):
    import pytest

    from funnel_rocket_spark.pipeline import run_pipeline

    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [{"stage": "pack", "block_size": 64, "shards": 2,
                    "pretokenized": True}],
    }
    with pytest.raises(ValueError, match="bpe_text"):
        run_pipeline(spark, config)


def test_pipeline_lm_gate_model_cache_survives_upstream_change(spark, tmp_path):
    """The trained LM depends only on (target data, params) — never on
    the chain state — so when an UPSTREAM stage's config changes (which
    dirties the lm_gate checkpoint and forces the stage to recompute),
    the model artifact under workdir/models must be REUSED, not
    retrained; and overwriting the target parquet must invalidate it."""
    import glob
    import os

    from funnel_rocket_spark.pipeline import run_pipeline

    target_path = str(tmp_path / "target.parquet")
    (spark.read.parquet(DOCS).where("lang = 'en'")
     .write.parquet(target_path))
    workdir = str(tmp_path / "work")
    config = {
        "input": {"path": DOCS, "id_col": "doc_id", "text_col": "text"},
        "workdir": workdir,
        "stages": [
            {"stage": "gopher_filter", "min_words": 1},
            {"stage": "lm_gate", "target_path": target_path,
             "keep_frac": 0.5, "frames": True},
        ],
    }
    run_pipeline(spark, config)
    models = glob.glob(os.path.join(workdir, "models", "lm_*", "meta.json"))
    assert len(models) == 1
    mtime = os.stat(models[0]).st_mtime_ns

    # upstream change -> lm_gate recomputes, but the model key is
    # unchanged: artifact reused (meta.json untouched), no second dir
    config["stages"][0]["min_words"] = 2
    rep2 = run_pipeline(spark, config)
    assert [s["resumed"] for s in rep2["stages"]] == [False, False]
    models2 = glob.glob(os.path.join(workdir, "models", "lm_*", "meta.json"))
    assert models2 == models
    assert os.stat(models[0]).st_mtime_ns == mtime

    # overwriting the target data in place -> new fingerprint -> retrain
    # under a NEW key (the stale artifact is never silently reused)
    (spark.read.parquet(DOCS).where("lang = 'de'")
     .write.mode("overwrite").parquet(target_path))
    run_pipeline(spark, config)
    models3 = glob.glob(os.path.join(workdir, "models", "lm_*", "meta.json"))
    assert len(models3) == 2


def test_pipeline_dedup_semantic_stage(spark, tmp_path):
    """SemDeDup as a chain stage: embeddings are a side input keyed by
    the chain's id column; near-identical vectors dedup to the min-id
    survivor; docs WITHOUT an embedding row pass through ungated; and
    overwriting the embeddings parquet invalidates the checkpoint (it
    is a _SIDE_INPUT_KEYS member like eval/target)."""
    from funnel_rocket_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, f"document number {i} body") for i in range(6)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    # 0 and 1 are near-identical vectors; 5 has NO embedding row
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.9999, 0.001, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
            (4, [0.5, 0.5, 0.0])]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>") \
        .write.parquet(emb_path)
    config = {
        "input": {"path": inp, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            {"stage": "dedup_semantic", "embeddings_path": emb_path,
             "k": 1, "threshold": 0.99},
        ],
    }
    rep = run_pipeline(spark, config)
    assert rep["rows_out"] == 5  # doc 1 deduped into 0; doc 5 passes
    kept = {r["doc_id"] for r in spark.read.parquet(
        f"{tmp_path}/work/stage_00_dedup_semantic.parquet").collect()}
    assert kept == {0, 2, 3, 4, 5}

    # unchanged inputs resume from checkpoint; overwriting the
    # embeddings in place must recompute (side-input fingerprint)
    rep2 = run_pipeline(spark, config)
    assert rep2["stages"][0]["resumed"]
    spark.createDataFrame(vecs[:2], "vec_id long, embedding array<float>") \
        .write.mode("overwrite").parquet(emb_path)
    rep3 = run_pipeline(spark, config)
    assert not rep3["stages"][0]["resumed"]
    assert rep3["rows_out"] == 5


def test_pipeline_dedup_semantic_persist_index(spark, tmp_path):
    """persist_index=true (r11): the FULL cell-partitioned IVF index
    lands under workdir/models/ivf_<key>; a later run reuses it WITHOUT
    any kmeans job (pinned by poisoning kmeans_lloyd); survivors are
    byte-identical to the centers-only path; resume=False bypasses the
    index artifact like every model cache; train_on=live refuses."""
    import glob as _glob

    import pytest as _pytest

    from funnel_rocket_spark.operators import similarity as sim
    from funnel_rocket_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, f"document number {i} body") for i in range(6)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.9999, 0.001, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.0, 1.0]),
            (4, [0.5, 0.5, 0.0])]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>") \
        .write.parquet(emb_path)

    def cfg(workdir, **extra):
        return {"input": {"path": inp, "id_col": "doc_id",
                          "text_col": "text"},
                "workdir": str(tmp_path / workdir),
                "stages": [{"stage": "dedup_semantic",
                            "embeddings_path": emb_path,
                            "k": 1, "threshold": 0.99, **extra}]}

    def survivors(workdir):
        return {r["doc_id"] for r in spark.read.parquet(
            f"{tmp_path}/{workdir}/stage_00_dedup_semantic.parquet")
            .collect()}

    run_pipeline(spark, cfg("w_plain"))
    run_pipeline(spark, cfg("w_idx", persist_index=True))
    assert survivors("w_idx") == survivors("w_plain") == {0, 2, 3, 4, 5}
    idx_dirs = _glob.glob(f"{tmp_path}/w_idx/models/ivf_*")
    assert len(idx_dirs) == 1
    assert _glob.glob(f"{idx_dirs[0]}/cells/__cell=*")  # cell-partitioned

    # second run in a FRESH chain workdir pointing at the same models
    # dir: poison kmeans — the index artifact alone must carry the stage
    orig = sim.kmeans_lloyd
    sim.kmeans_lloyd = None  # any call would TypeError
    try:
        rep2 = run_pipeline(spark, cfg("w_idx", persist_index=True))
        assert rep2["stages"][0]["resumed"]  # checkpoint hit, no work
        # force the stage body to run again against the cached index:
        # new workdir, models copied over
        import shutil

        shutil.copytree(f"{tmp_path}/w_idx/models",
                        f"{tmp_path}/w_idx2/models")
        run_pipeline(spark, cfg("w_idx2", persist_index=True))
        assert survivors("w_idx2") == {0, 2, 3, 4, 5}
    finally:
        sim.kmeans_lloyd = orig

    # resume=False bypasses the index cache (kmeans must run again)
    calls = []

    def counting(*a, **kw):
        calls.append(1)
        return orig(*a, **kw)

    sim.kmeans_lloyd = counting
    try:
        run_pipeline(spark, cfg("w_idx2", persist_index=True),
                     resume=False)
        assert calls  # retrained despite the artifact on disk
    finally:
        sim.kmeans_lloyd = orig

    with _pytest.raises(ValueError, match="persist_index"):
        run_pipeline(spark, cfg("w_live", persist_index=True,
                                train_on="live"))


def test_pipeline_retrieval_stage(spark, tmp_path):
    """retrieval stage (r12): nearest-benchmark-neighbors report on the
    persisted IVF index — exact vs brute force under a covering probe
    (k=1 cluster, n_probe=1); restricted to LIVE chain ids (a corpus
    vector without a chain doc must never appear); chain frame passes
    through unchanged; the ivf_<key> artifact alone carries a rerun
    (kmeans poisoned); a green checkpoint skips the stage."""
    import glob as _glob

    from funnel_rocket_spark.operators import similarity as sim
    from funnel_rocket_spark.pipeline import run_pipeline

    # doc 3 exists as a VECTOR but not as a chain doc -> not live
    docs = spark.createDataFrame(
        [(i, f"document number {i} body") for i in (0, 1, 2, 4)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    vecs = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]), (3, [0.0, 0.9, 0.1]),
            (4, [0.0, 0.0, 1.0])]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>") \
        .write.parquet(emb_path)
    qs = [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])]
    q_path = str(tmp_path / "queries.parquet")
    spark.createDataFrame(qs, "vec_id long, embedding array<float>") \
        .write.parquet(q_path)

    def cfg(workdir):
        return {"input": {"path": inp, "id_col": "doc_id",
                          "text_col": "text"},
                "workdir": str(tmp_path / workdir),
                "stages": [{"stage": "retrieval",
                            "embeddings_path": emb_path,
                            "queries_path": q_path,
                            "k": 1, "top_k": 2, "n_probe": 1}]}

    rep = run_pipeline(spark, cfg("w"))
    assert rep["rows_out"] == 4  # pass-through, chain unchanged
    hits = spark.read.parquet(
        f"{tmp_path}/w/reports/retrieval.parquet")
    by_q = {}
    for r in sorted(hits.collect(),
                    key=lambda r: (r["query_id"], -r["cosine_sim"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    # covering probe == brute force; vec 3 (closest-but-dead for 101)
    # must be absent
    assert by_q == {100: [0, 1], 101: [2, 1]}, by_q
    idx_dirs = _glob.glob(f"{tmp_path}/w/models/ivf_*")
    assert len(idx_dirs) == 1

    # rerun: green checkpoint skips the stage body entirely
    rep2 = run_pipeline(spark, cfg("w"))
    assert rep2["stages"][0]["resumed"]

    # fresh chain workdir + copied models, kmeans poisoned: the index
    # artifact alone must carry the stage
    import shutil

    shutil.copytree(f"{tmp_path}/w/models", f"{tmp_path}/w2/models")
    orig = sim.kmeans_lloyd
    sim.kmeans_lloyd = None
    try:
        run_pipeline(spark, cfg("w2"))
    finally:
        sim.kmeans_lloyd = orig
    hits2 = spark.read.parquet(
        f"{tmp_path}/w2/reports/retrieval.parquet")
    assert sorted(map(tuple, hits2.collect())) == \
        sorted(map(tuple, hits.collect()))


def test_pipeline_decontaminate_semantic_stage(spark, tmp_path):
    """Semantic decontamination as a chain stage: docs whose embedding
    sits within threshold cosine of any eval embedding drop; docs
    without an embedding row pass through; the eval side input is
    fingerprinted (checkpoint invalidates on in-place overwrite)."""
    from funnel_rocket_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, f"document number {i} body") for i in range(5)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    # doc 0 is a leaked eval member (cosine 1); doc 4 has no embedding
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.7, 0.7]),
         (3, [-1.0, 0.0])],
        "vec_id long, embedding array<float>").write.parquet(emb_path)
    eval_path = str(tmp_path / "eval_emb.parquet")
    spark.createDataFrame(
        [(100, [1.0, 0.0])],
        "vec_id long, embedding array<float>").write.parquet(eval_path)
    config = {
        "input": {"path": inp, "id_col": "doc_id", "text_col": "text"},
        "workdir": str(tmp_path / "work"),
        "stages": [
            {"stage": "decontaminate_semantic",
             "embeddings_path": emb_path,
             "eval_embeddings_path": eval_path, "threshold": 0.99},
        ],
    }
    rep = run_pipeline(spark, config)
    assert rep["rows_out"] == 4  # doc 0 dropped; 4 passes (no vector)
    kept = {r["doc_id"] for r in spark.read.parquet(
        f"{tmp_path}/work/stage_00_decontaminate_semantic.parquet")
        .collect()}
    assert kept == {1, 2, 3, 4}

    rep2 = run_pipeline(spark, config)
    assert rep2["stages"][0]["resumed"]
    # overwrite the EVAL embeddings in place -> stage recomputes
    spark.createDataFrame(
        [(100, [0.0, 1.0])],
        "vec_id long, embedding array<float>") \
        .write.mode("overwrite").parquet(eval_path)
    rep3 = run_pipeline(spark, config)
    assert not rep3["stages"][0]["resumed"]
    assert rep3["rows_out"] == 4  # now doc 1 drops instead
    kept3 = {r["doc_id"] for r in spark.read.parquet(
        f"{tmp_path}/work/stage_00_decontaminate_semantic.parquet")
        .collect()}
    assert kept3 == {0, 2, 3, 4}


def test_pipeline_embedding_artifacts_survive_upstream_change(spark, tmp_path):
    """The kmeans centers (dedup_semantic) and contamination hit set
    (decontaminate_semantic) are side-input artifacts like the lm_gate
    model: an UPSTREAM stage change forces both stages to recompute,
    but the persisted artifacts are reused (no retrain / no re-GEMM);
    overwriting a side input in place mints a new artifact key."""
    import glob as _glob
    import os

    from funnel_rocket_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, ("common words here " * 3) + f"doc {i}") for i in range(8)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    vecs = [(i, [1.0 if i < 2 else 0.0, float(i)]) for i in range(6)]
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(vecs, "vec_id long, embedding array<float>") \
        .write.parquet(emb_path)
    eval_path = str(tmp_path / "eval_emb.parquet")
    spark.createDataFrame(
        [(100, [0.0, 1.0])],
        "vec_id long, embedding array<float>").write.parquet(eval_path)

    workdir = str(tmp_path / "work")
    stages = [
        {"stage": "dedup_semantic", "embeddings_path": emb_path,
         "k": 2, "threshold": 0.999},
        {"stage": "decontaminate_semantic", "embeddings_path": emb_path,
         "eval_embeddings_path": eval_path, "threshold": 0.999},
    ]
    config = {"input": {"path": inp, "id_col": "doc_id",
                        "text_col": "text"},
              "workdir": workdir, "stages": list(stages)}
    rep1 = run_pipeline(spark, config)
    km1 = _glob.glob(os.path.join(workdir, "models", "kmeans_*.json"))
    ct1 = _glob.glob(os.path.join(workdir, "models", "contam_*.parquet"))
    assert len(km1) == 1 and len(ct1) == 1
    km_mtime = os.path.getmtime(km1[0])

    # prepend an upstream stage: both embedding stages recompute (chain
    # hash moved) but the artifacts are REUSED — same single file each
    config2 = {"input": config["input"], "workdir": workdir,
               "stages": [{"stage": "gopher_filter", "min_words": 3,
                           "min_stopword_hits": 0,
                           "min_mean_word_len": 1.0}] + list(stages)}
    rep2 = run_pipeline(spark, config2)
    assert not rep2["stages"][1]["resumed"]  # dedup_semantic recomputed
    km2 = _glob.glob(os.path.join(workdir, "models", "kmeans_*.json"))
    ct2 = _glob.glob(os.path.join(workdir, "models", "contam_*.parquet"))
    assert len(km2) == 1 and len(ct2) == 1
    assert os.path.getmtime(km2[0]) == km_mtime  # not retrained
    # identical survivors through both routes (artifact reuse is pure)
    out1 = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(workdir, "stage_01_decontaminate_semantic.parquet")
        ).collect()}
    out2 = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(workdir, "stage_02_decontaminate_semantic.parquet")
        ).collect()}
    assert out1 == out2

    # overwriting a side input in place mints NEW artifact keys
    spark.createDataFrame(vecs[:4], "vec_id long, embedding array<float>") \
        .write.mode("overwrite").parquet(emb_path)
    run_pipeline(spark, config2)
    assert len(_glob.glob(
        os.path.join(workdir, "models", "kmeans_*.json"))) == 2
    assert len(_glob.glob(
        os.path.join(workdir, "models", "contam_*.parquet"))) == 2


def test_pipeline_no_resume_bypasses_model_caches(spark, tmp_path):
    """resume=False must bypass the workdir/models artifact caches, not
    only the chain checkpoints: for a remote side input the fingerprint
    falls back to the bare path string, and --no-resume is the
    documented escape hatch after overwriting such an input in place —
    a run that silently reloads stale kmeans centers (or a stale
    contamination hit set) would defeat it (r10 ADVICE finding)."""
    import glob as _glob
    import json as _json
    import os

    from funnel_rocket_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, f"document number {i} with words") for i in range(6)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(i, [1.0 if i < 2 else 0.0, float(i)]) for i in range(6)],
        "vec_id long, embedding array<float>").write.parquet(emb_path)

    workdir = str(tmp_path / "work")
    config = {"input": {"path": inp, "id_col": "doc_id",
                        "text_col": "text"},
              "workdir": workdir,
              "stages": [{"stage": "dedup_semantic",
                          "embeddings_path": emb_path,
                          "k": 2, "threshold": 0.999}]}
    run_pipeline(spark, config)
    [km] = _glob.glob(os.path.join(workdir, "models", "kmeans_*.json"))
    with open(km) as fh:
        trained = _json.load(fh)

    # poison the artifact; resume=True must LOAD it (cache is live)...
    poisoned = dict(trained, centers=[[9e9, 9e9], [-9e9, -9e9]])
    with open(km, "w") as fh:
        _json.dump(poisoned, fh)
    run_pipeline(spark, config)
    with open(km) as fh:
        assert _json.load(fh)["centers"] == poisoned["centers"]

    # ...and resume=False must retrain and overwrite it
    run_pipeline(spark, config, resume=False)
    with open(km) as fh:
        assert _json.load(fh)["centers"] == trained["centers"]


def test_pipeline_dedup_semantic_train_on_live(spark, tmp_path):
    """"train_on": "live" restores the pre-r10 chain-filtered quantizer
    training set; live centers depend on chain state, so the mode must
    not read or write the kmeans artifact cache."""
    import glob as _glob
    import os

    from funnel_rocket_spark.pipeline import run_pipeline

    docs = spark.createDataFrame(
        [(i, f"document number {i} with words") for i in range(6)],
        "doc_id long, text string")
    inp = str(tmp_path / "docs.parquet")
    docs.write.parquet(inp)
    emb_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(i, [1.0 if i < 2 else 0.0, float(i)]) for i in range(6)],
        "vec_id long, embedding array<float>").write.parquet(emb_path)

    config = {"input": {"path": inp, "id_col": "doc_id",
                        "text_col": "text"},
              "workdir": str(tmp_path / "work"),
              "stages": [{"stage": "dedup_semantic",
                          "embeddings_path": emb_path, "train_on": "live",
                          "k": 2, "threshold": 0.999}]}
    rep = run_pipeline(spark, config)
    assert rep["rows_out"] > 0
    assert not _glob.glob(
        os.path.join(str(tmp_path / "work"), "models", "kmeans_*.json"))
