"""corpus_cli end-to-end on the real sf0.001 corpus: report contract,
stage monotonicity, split disjointness, and the tokenize+pack path."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from solana_snapshot_etl_tools_spark import corpus_cli

SRC = "/root/testdata/sf0.001/documents.parquet"


def _run(capsys, *argv):
    assert corpus_cli.main(list(argv)) == 0
    out = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    return json.loads(out[-1])


def test_stage_runner_order_counts_and_caching(spark, monkeypatch):
    """_run_stages runs the enabled stages of its order tuple in that
    order, each on the cached output of the one before; every stage
    that ran writes exactly one n_after_<stage> key (plus its declared
    dropped key); a disabled stage leaves frame and report untouched."""
    from types import SimpleNamespace

    from solana_snapshot_etl_tools_spark.session import release_session_caches

    seen = []

    def keep_below(name, n):
        def run(spark_, df, args, report):
            seen.append((name, df))
            return df.filter(F.col("doc_id") < n)

        return run

    monkeypatch.setattr(corpus_cli, "_POST_FILTER_STAGES", {
        "a": corpus_cli._Stage(lambda a: True, keep_below("a", 3)),
        "b": corpus_cli._Stage(lambda a: a.b_on, keep_below("b", 1)),
        "c": corpus_cli._Stage(lambda a: True, keep_below("c", 5), "n_c_dropped"),
    })
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    off = SimpleNamespace(b_on=False)
    try:
        report = {}
        assert corpus_cli._run_stages(spark, df, off, report, ("b",)) is df
        assert report == {} and seen == []

        out = corpus_cli._run_stages(spark, df, off, report, ("c", "b", "a"))
        assert [name for name, _ in seen] == ["c", "a"]
        assert seen[0][1] is df and seen[1][1].is_cached and out.is_cached
        assert report == {"n_after_c": 5, "n_c_dropped": 5, "n_after_a": 3}
        assert sorted(r.doc_id for r in out.collect()) == [0, 1, 2]
    finally:
        release_session_caches()


def test_document_pipeline_end_to_end(spark, tmp_path_factory, capsys):
    out = str(tmp_path_factory.mktemp("corpus_docs"))
    rep = _run(capsys, SRC, out, "--near-dedup", "--records-per-shard", "100")
    assert rep["n_input"] >= rep["n_after_dedup"] >= rep["n_after_filters"] > 0
    sizes = {k: v["rows"] for k, v in rep["splits"].items()}
    assert sum(sizes.values()) == rep["n_after_filters"]
    assert sizes["train"] > sizes["val"] >= 0
    # written shards are a disjoint id partition with the clean schema
    frames = {k: spark.read.parquet(f"{out}/{k}") for k in sizes if sizes[k]}
    ids = [r.doc_id for df in frames.values() for r in df.select("doc_id").collect()]
    assert len(ids) == len(set(ids)) == rep["n_after_filters"]
    for df in frames.values():
        assert df.columns == ["doc_id", "text", "n_tokens"]
        assert df.filter(F.col("text").isNull()).count() == 0


def test_gopher_flag_tightens_the_filter(spark, tmp_path_factory, capsys):
    out1 = str(tmp_path_factory.mktemp("corpus_base"))
    out2 = str(tmp_path_factory.mktemp("corpus_gopher"))
    out3 = str(tmp_path_factory.mktemp("corpus_gopher_relaxed"))
    base = _run(capsys, SRC, out1, "--no-pii")
    # the faithful A1.1 stop-word list rejects the synthetic word-salad
    # corpus outright (by design); the pipeline must survive that
    strict = _run(capsys, SRC, out2, "--no-pii", "--gopher")
    assert strict["n_after_filters"] == 0
    # a per-corpus stop list keeps the flag usable on this corpus
    relaxed = _run(
        capsys, SRC, out3, "--no-pii", "--gopher",
        "--gopher-stopwords", "the,scan,join,sort,window",
    )
    assert 0 < relaxed["n_after_filters"] <= base["n_after_filters"]


@pytest.mark.slow
def test_cluster_balance_stage(spark, tmp_path_factory, capsys):
    out = str(tmp_path_factory.mktemp("corpus_balanced"))
    rep = _run(
        capsys,
        SRC,
        out,
        "--no-pii",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--cluster-balance", "3",
        "--records-per-shard", "100",
    )
    assert len(rep["cluster_sizes"]) == 3
    assert 0 < rep["n_after_balance"] <= rep["n_after_filters"]
    sizes = {k: v["rows"] for k, v in rep["splits"].items()}
    assert sum(sizes.values()) == rep["n_after_balance"]
    # the split hash must be INDEPENDENT of the sampler's acceptance
    # hash: a knuth-keyed split after knuth-keyed balancing routed
    # ~all survivors into train (the affine-correlation bug) — val and
    # test must retain their expected share
    assert sizes["val"] + sizes["test"] >= 0.02 * rep["n_after_balance"]
    assert sizes["train"] >= 0.7 * rep["n_after_balance"]


def test_cluster_balance_missing_embeddings_pass_through(spark, tmp_path_factory, capsys):
    """Docs absent from the embeddings table must survive unsampled —
    and must NOT form a competing minimum stratum that collapses the
    balanced corpus."""
    import pyspark.sql.functions as SF

    src_docs = "/root/testdata/sf0.001/documents.parquet"
    emb_half = str(tmp_path_factory.mktemp("emb_half") / "emb.parquet")
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        SF.col("vec_id") % 2 == 0
    ).write.parquet(emb_half)
    out = str(tmp_path_factory.mktemp("corpus_half"))
    rep = _run(
        capsys,
        src_docs, out, "--no-pii",
        "--embeddings", emb_half,
        "--cluster-balance", "3",
    )
    # roughly half the filtered docs lack an embedding; they all pass
    # through, so the balanced corpus can never collapse below them
    assert rep["n_after_balance"] >= 0.4 * rep["n_after_filters"]


def test_tokenize_and_pack_path(spark, tmp_path_factory, capsys):
    out = str(tmp_path_factory.mktemp("corpus_packed"))
    rep = _run(
        capsys,
        SRC,
        out,
        "--no-pii",
        "--tokenize", "64",
        "--pack", "128",
        "--records-per-shard", "200",
    )
    assert rep["vocab_size"] > 64
    train = spark.read.parquet(f"{out}/train")
    assert train.columns == ["seq_id", "input_ids", "n_tokens", "n_docs", "fill_frac"]
    # every sequence except at most the last is exactly seq_len
    assert train.filter("n_tokens != 128").count() <= 1
    assert rep["splits"]["train"]["rows"] == train.count() > 0

    # --- the full shards round trip (VERDICT r7 item 5): the saved
    # tokenizer artifact + the packed shards reconstruct the cleaned
    # train split exactly, modulo the documented normalization
    # (lowercase + whitespace collapse) ---
    from solana_snapshot_etl_tools_spark.functions import text as TXT
    from solana_snapshot_etl_tools_spark.functions.hashing import _2_32
    from solana_snapshot_etl_tools_spark.operators import dedup as DD
    from solana_snapshot_etl_tools_spark.operators.bpe import (
        bpe_decode,
        tokenizer_load,
    )

    algo, model = tokenizer_load(rep["tokenizer"])
    assert algo == "bpe"
    eos = rep["eos_id"]

    # stitch the global token stream back together (seq order; packing
    # may split a document across sequence boundaries) and cut on EOS
    seqs = train.orderBy("seq_id").select("input_ids").collect()
    stream: list[int] = []
    for r in seqs:
        stream.extend(r.input_ids)
    assert stream and stream[-1] == eos
    docs_back, cur = [], []
    for t in stream:
        if t == eos:
            docs_back.append(cur)
            cur = []
        else:
            cur.append(t)
    assert not cur  # every doc is EOS-terminated
    dec = bpe_decode(
        spark.createDataFrame(
            [(i, ids) for i, ids in enumerate(docs_back)],
            "doc_id long, token_ids array<int>",
        ),
        model,
    )
    got = sorted(r.text for r in dec.collect())

    # independent library recomputation of the cleaned train texts
    # (the CLI's exact stage chain at these flags: exact dedup →
    # quality ≥ 0.5 → lang en → xxhash64 split)
    docs = spark.read.parquet(SRC).select("doc_id", "text")
    kept = DD.exact_dedup(docs, "doc_id", "text")
    c = F.col("text")
    filtered = kept.filter(TXT.quality_score(c) >= 0.5).filter(
        TXT.lang_id(c) == "en"
    )
    h = F.pmod(F.xxhash64("doc_id", F.lit("corpus-split")), F.lit(100 * _2_32))
    train_docs = filtered.filter(h < F.lit(90) * F.lit(_2_32))
    want = sorted(
        " ".join(r.text.lower().split()) for r in train_docs.collect()
    )
    assert got == want


@pytest.mark.slow
def test_two_shard_ingestion_cluster_balance_and_index(
    spark, tmp_path_factory, capsys
):
    """The full incremental-ingestion loop in one run pair (VERDICT r5
    item 5): shard 1 is cleaned, cluster-balanced (cluster.py +
    sampling.py), and persisted WITH its dedup index; shard 2 (with
    planted exact copies of shard-1 survivors) probes that index
    (incremental.py), drops the copies, and writes the updated index
    — index' = index UNION kept."""
    base = str(tmp_path_factory.mktemp("inc_e2e"))
    emb = "/root/testdata/sf0.001/embeddings.parquet"
    docs = spark.read.parquet(SRC).select("doc_id", "text")
    shard1, shard2 = f"{base}/shard1.parquet", f"{base}/shard2.parquet"
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(shard1)

    out1, idx1 = f"{base}/out1", f"{base}/idx1"
    rep1 = _run(
        capsys, shard1, out1, "--no-pii",
        "--embeddings", emb, "--cluster-balance", "3", "--alpha", "0.5",
        "--index-out", idx1, "--records-per-shard", "100",
    )
    assert len(rep1["cluster_sizes"]) == 3
    assert 0 < rep1["n_after_balance"] <= rep1["n_after_filters"]
    # index rows: (bands + 1) per doc in the FINAL corpus; sigs 1/doc
    assert rep1["signature_rows"] == rep1["n_after_balance"]
    assert rep1["index_rows"] % rep1["n_after_balance"] == 0
    n_index_rows_per_doc = rep1["index_rows"] // rep1["n_after_balance"]
    assert n_index_rows_per_doc >= 2  # exact row + >=1 band row

    # plant exact copies of run-1 SURVIVORS (post-filter text, so they
    # deterministically reach the probe stage in run 2)
    kept1 = spark.read.parquet(f"{out1}/train").select("doc_id", "text")
    planted = kept1.limit(8).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    n_planted = planted.count()
    assert n_planted == 8
    docs.filter(F.col("doc_id") % 2 == 1).unionByName(planted).write.parquet(
        shard2
    )

    out2, idx2 = f"{base}/out2", f"{base}/idx2"
    rep2 = _run(
        capsys, shard2, out2, "--no-pii",
        "--dedup-against-index", idx1, "--drop-near-candidates",
        "--index-out", idx2, "--records-per-shard", "100",
    )
    # every planted copy is flagged exact against the prior index
    assert rep2["n_dup_exact_vs_index"] >= n_planted
    assert (
        rep2["n_after_index_dedup"]
        == rep2["n_after_filters"]
        - rep2["n_dup_exact_vs_index"]
        - rep2["n_dup_near_vs_index"]
    )
    # no planted copy survives into shard 2's written corpus
    for name, sizes in rep2["splits"].items():
        if sizes["rows"]:
            assert (
                spark.read.parquet(f"{out2}/{name}")
                .filter(F.col("doc_id") >= 10_000_000)
                .count()
                == 0
            )
    # loop closure: index' = prior index + this shard's kept rows
    kept2 = sum(v["rows"] for v in rep2["splits"].values())
    assert rep2["index_rows"] == rep1["index_rows"] + n_index_rows_per_doc * kept2
    assert rep2["signature_rows"] == rep1["signature_rows"] + kept2


def test_shuffle_seed_globally_shuffles_shards(spark, tmp_path_factory, capsys):
    """--shuffle-seed reorders shard layout deterministically without
    changing corpus membership or schema."""
    out_a = str(tmp_path_factory.mktemp("shuf_a"))
    out_b = str(tmp_path_factory.mktemp("shuf_b"))
    out_c = str(tmp_path_factory.mktemp("shuf_c"))
    plain = _run(capsys, SRC, out_a, "--no-pii", "--records-per-shard", "50")
    shuf = _run(capsys, SRC, out_b, "--no-pii", "--records-per-shard", "50",
                "--shuffle-seed", "7")
    again = _run(capsys, SRC, out_c, "--no-pii", "--records-per-shard", "50",
                 "--shuffle-seed", "7")
    assert plain["n_after_filters"] == shuf["n_after_filters"]

    def first_shard_ids(out):
        import glob

        files = sorted(glob.glob(f"{out}/train/part-*.parquet"))
        return [r.doc_id for r in spark.read.parquet(files[0]).collect()]

    a, b, c = first_shard_ids(out_a), first_shard_ids(out_b), first_shard_ids(out_c)
    assert b == c  # seeded shuffle is deterministic
    assert a != b  # and differs from id order
    assert sorted(a) == a  # id order really was id order
    # schema unchanged: the synthetic order key never lands in shards
    assert spark.read.parquet(f"{out_b}/train").columns == [
        "doc_id", "text", "n_tokens"
    ]
    # same corpus, different layout
    ids = lambda out: {r.doc_id for r in spark.read.parquet(f"{out}/train").collect()}
    assert ids(out_a) == ids(out_b)


@pytest.mark.slow
def test_all_stages_compose_in_one_run(spark, tmp_path_factory, capsys):
    """Every optional stage at once — the full production recipe in a
    single invocation: near dedup, learned quality model (Pareto),
    cluster balance, index persistence, seeded shard shuffle,
    BPE-tokenize + pack, data card. Stage flags must compose, not
    merely work in isolation."""
    from solana_snapshot_etl_tools_spark.operators import quality_model as QM

    base = tmp_path_factory.mktemp("all_stages")
    docs = spark.read.parquet(SRC).select("doc_id", "text")
    # a permissive model: positives = the real corpus itself,
    # negatives = junk strings (so real docs mostly survive)
    junk = spark.createDataFrame(
        [(10_000_000 + i, " ".join(["@@@%%!!"] * 30), 0.0) for i in range(150)],
        "doc_id long, text string, label double",
    )
    labeled = docs.withColumn("label", F.lit(1.0)).unionByName(junk)
    model = QM.quality_model_train(labeled, dim=2**14, max_iter=30)
    mpath = str(base / "model")
    model.write().overwrite().save(mpath)

    out, idx = str(base / "out"), str(base / "idx")
    rep = _run(
        capsys, SRC, out,
        "--near-dedup",
        "--quality-model", mpath, "--quality-model-alpha", "9",
        "--embeddings", "/root/testdata/sf0.001/embeddings.parquet",
        "--cluster-balance", "3", "--alpha", "0.5",
        "--index-out", idx,
        "--shuffle-seed", "11",
        "--tokenize", "64", "--pack", "128",
        "--data-card",
        "--records-per-shard", "100",
    )
    # stage monotonicity through the whole chain
    assert (
        rep["n_input"]
        >= rep["n_after_dedup"]
        >= rep["n_after_filters"]
        >= rep["n_after_balance"]
        > 0
    )
    assert len(rep["cluster_sizes"]) == 3
    # index persisted over the FINAL corpus
    assert rep["signature_rows"] == rep["n_after_balance"]
    # packed output: fixed-length sequences, shuffled layout, and the
    # data card describes the final corpus
    assert rep["vocab_size"] > 64
    train = spark.read.parquet(f"{out}/train")
    assert train.columns == ["seq_id", "input_ids", "n_tokens", "n_docs", "fill_frac"]
    assert train.filter(F.col("n_tokens") != 128).count() <= 1
    assert rep["data_card"]["n_docs"] == rep["n_after_balance"]
    # NOT exactly 0: exact dedup runs on RAW text, then PII redaction
    # can map docs differing only in their PII spans onto the SAME
    # cleaned text — the data card measures (and exposes) exactly that
    # residue; it stays small on this corpus
    assert rep["data_card"]["exact_dup_rate"] < 0.01


@pytest.mark.slow
def test_ingest_stream_mode(spark, tmp_path_factory, capsys):
    """--ingest-stream: the CLI drives streaming/ingest.py over a
    directory of shards; a second invocation picks up only NEW
    arrivals (checkpoint resume) and keeps deduplicating against the
    same index."""
    import os
    import time

    base = tmp_path_factory.mktemp("cli_stream")
    # orderBy before limit: a bare limit() is re-evaluated per action
    # and may pick a DIFFERENT 120 rows for the shard write vs the
    # planted-copy selection, silently breaking the dup arithmetic
    docs = (
        spark.read.parquet(SRC)
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    src = str(base / "arrivals")
    os.makedirs(src)
    s1 = docs.filter(F.col("doc_id") % 2 == 0)
    s1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)
    # shard 2 includes exact copies of shard-1 docs
    docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        s1.limit(4).select((F.col("doc_id") + 900_000).alias("doc_id"), "text")
    ).coalesce(1).write.mode("append").parquet(src)

    out, idx = str(base / "out"), str(base / "idx")
    rep = _run(capsys, src, out, "--ingest-stream", "--index-out", idx,
               "--no-pii", "--quality", "0", "--lang", "",
               "--data-card")
    assert rep["mode"] == "ingest-stream"
    assert rep["n_batches"] == 2
    assert rep["n_corpus"] == 120  # the 4 planted copies dropped
    assert rep["signature_rows"] == 120
    assert rep["data_card"]["n_docs"] == 120
    assert rep["data_card"]["exact_dup_rate"] == 0.0

    # a later arrival: re-run processes ONLY the new shard
    time.sleep(1.1)
    spark.createDataFrame(
        [(2_000_000, "a genuinely new document about spark streams")],
        "doc_id long, text string",
    ).unionByName(
        s1.limit(2).select((F.col("doc_id") + 950_000).alias("doc_id"), "text")
    ).coalesce(1).write.mode("append").parquet(src)
    rep2 = _run(capsys, src, out, "--ingest-stream", "--index-out", idx,
                "--no-pii", "--quality", "0", "--lang", "")
    assert rep2["n_batches"] == 3
    assert rep2["n_corpus"] == 121  # +1 new doc, 2 copies dropped
    # flag-conflict guard
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--ingest-stream"])  # no --index-out


@pytest.mark.slow
def test_ingest_stream_honors_cleaning_flags(spark, tmp_path_factory, capsys):
    """The stream mode applies the SAME stateless cleaning tier as
    batch mode — flags must not be silently ignored."""
    import os

    base = tmp_path_factory.mktemp("cli_stream_clean")
    src = str(base / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(
        [
            (1, "the quick brown fox reads many good long books about "
                "science and nature " * 3),
            (2, "@@@@ %% !! ## ~~~~"),  # junk: fails the quality floor
        ],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    rep = _run(
        capsys, src, str(base / "out"), "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii",
        "--quality", "0.5", "--lang", "",
    )
    assert rep["n_corpus"] == 1
    ids = {r.doc_id for r in spark.read.parquet(f"{base}/out/corpus").collect()}
    assert ids == {1}


def test_stratified_split_cli_mode(spark, tmp_path_factory, capsys):
    """--stratified-split lang: floor-exact per-language shares in the
    WRITTEN outputs — the tiny language keeps its held-out rows."""
    from solana_snapshot_etl_tools_spark.functions.text import lang_id

    out = str(tmp_path_factory.mktemp("strat"))
    rep = _run(
        capsys, SRC, out, "--no-pii", "--lang", "",
        "--stratified-split", "lang", "--train-pct", "80",
        "--val-pct", "10", "--records-per-shard", "200",
    )
    assert rep["split_mode"] == "stratified:lang"
    frames = {
        name: spark.read.parquet(f"{out}/{name}").withColumn(
            "_l", lang_id(F.col("text"))
        )
        for name, sz in rep["splits"].items()
        if sz["rows"]
    }
    per = {}
    for name, df in frames.items():
        for r in df.groupBy("_l").count().collect():
            per.setdefault(r._l, {})[name] = r["count"]
    assert len(per) >= 2  # the corpus is genuinely multi-stratum
    for lang, counts in per.items():
        t = sum(counts.values())
        n_tr = t * 80 // 100
        n_val = t * 90 // 100 - n_tr
        assert counts.get("train", 0) == n_tr, (lang, counts)
        assert counts.get("val", 0) == n_val, (lang, counts)
    total = sum(sum(c.values()) for c in per.values())
    assert total == rep["n_after_filters"]


@pytest.mark.slow
def test_ingest_stream_python_m_entrypoint(tmp_path_factory, spark):
    """The documented `python -m ... --ingest-stream` invocation must
    work: _ingest_stream_main was once defined AFTER the __main__
    guard, so the module-level run crashed with NameError while every
    in-process test passed."""
    import json as _json
    import os
    import subprocess
    import sys

    base = tmp_path_factory.mktemp("cli_m")
    src = str(base / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "the quick brown fox reads many good long books " * 3)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    r = subprocess.run(
        [sys.executable, "-m", "solana_snapshot_etl_tools_spark.corpus_cli",
         src, str(base / "out"), "--ingest-stream",
         "--index-out", str(base / "idx"), "--no-pii", "--lang", "",
         "--cpus", "4"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    rep = _json.loads(
        [l for l in r.stdout.splitlines() if l.strip()][-1]
    )
    assert rep["n_corpus"] == 1


def test_ingest_stream_rejects_batch_only_flags_and_survives_empty(
    spark, tmp_path_factory, capsys
):
    import os

    import pytest as _pytest

    base = tmp_path_factory.mktemp("cli_guard")
    src = str(base / "arrivals")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "the quick brown fox reads many good long books " * 3)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    for flag in (["--shuffle-seed", "3"], ["--tokenize", "64"],
                 ["--dedup-cleaned"]):
        with _pytest.raises(SystemExit):
            corpus_cli.main(
                [src, str(base / "o"), "--ingest-stream",
                 "--index-out", str(base / "i"), *flag]
            )
    # --gopher IS honored (stateless filter): the faithful A1.1 list
    # rejects the synthetic corpus, so NOTHING survives — the run
    # must still report n_corpus=0 instead of crashing on the
    # schema-less output directory
    rep = _run(
        capsys, src, str(base / "out"), "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii", "--lang", "",
        "--gopher", "--data-card",
    )
    assert rep["n_corpus"] == 0 and rep["n_batches"] == 0
    assert rep["index_rows"] == 0 and "data_card" not in rep


def test_missing_sigs_degrades_loudly_but_corrupt_sigs_raise(
    spark, tmp_path_factory, capsys
):
    """ADVICE r6: a genuinely-absent signature table degrades probes to
    raw bucket membership AND records it in the report; any other sigs
    read failure (corrupt file) raises instead of silently degrading."""
    import shutil

    import pytest

    base = str(tmp_path_factory.mktemp("sigs_degrade"))
    shard = f"{base}/shard.parquet"
    spark.read.parquet(SRC).select("doc_id", "text").filter(
        F.col("doc_id") % 2 == 0
    ).write.parquet(shard)
    out1, idx = f"{base}/out1", f"{base}/idx"
    _run(capsys, shard, out1, "--no-pii", "--index-out", idx,
         "--records-per-shard", "100")

    shutil.rmtree(f"{idx}/sigs")
    rep = _run(
        capsys, shard, f"{base}/out2", "--no-pii",
        "--dedup-against-index", idx, "--records-per-shard", "100",
    )
    assert rep["near_dup_probe_degraded"] == "no_signature_table"
    assert rep["n_dup_exact_vs_index"] > 0  # exact probing still works

    # corrupt sigs (dir exists, unreadable parquet) must NOT degrade
    import os

    os.makedirs(f"{idx}/sigs", exist_ok=True)
    with open(f"{idx}/sigs/part-00000.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        _run(
            capsys, shard, f"{base}/out3", "--no-pii",
            "--dedup-against-index", idx, "--records-per-shard", "100",
        )


@pytest.mark.slow
def test_ingest_stream_quality_model_stratified_split_data_card_one_run(
    spark, tmp_path_factory, capsys
):
    """--ingest-stream x --quality-model x --lm-reference x
    --stratified-split x --data-card in ONE invocation at sf0.1.
    The learned tier filters each arriving batch; after the stream
    drains, the LM perplexity filter scores the accumulated corpus
    (post-drain batch stage), then the exact stratified split rewrites
    the derived split dirs over the LM-kept subset; the data card
    describes that subset. The LM keep-set is re-derived independently
    with the library and must match the split dirs EXACTLY."""
    import os
    import time

    from solana_snapshot_etl_tools_spark.operators import quality_model as QM
    from solana_snapshot_etl_tools_spark.operators.sampling import (
        stratified_split,
    )

    base = tmp_path_factory.mktemp("stream_full")
    docs = (
        spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
        .select("doc_id", "text")
    )
    junk = spark.createDataFrame(
        [(10_000_000 + i, " ".join(["@@@%%!!"] * 30), 0.0) for i in range(200)],
        "doc_id long, text string, label double",
    )
    model = QM.quality_model_train(
        docs.withColumn("label", F.lit(1.0)).unionByName(junk),
        dim=2**14, max_iter=30,
    )
    mpath = str(base / "model")
    model.write().overwrite().save(mpath)

    src = str(base / "arrivals")
    os.makedirs(src)
    # 3 shards; shard 3 plants exact copies of shard-1 docs
    s1 = docs.filter(F.col("doc_id") % 3 == 0)
    s1.coalesce(2).write.mode("append").parquet(src)
    time.sleep(1.1)
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(2).write.mode(
        "append"
    ).parquet(src)
    time.sleep(1.1)
    # shard 3 also plants LM-OOV word salad (clean-looking lowercase
    # alpha text the heuristics pass) — whichever tier drops it
    # (learned model or the post-drain LM filter), it must be absent
    # from the split dirs
    salad = spark.createDataFrame(
        [(40_000_000 + i, "zxqveth kplwors mnbvty qwersal " * 8)
         for i in range(30)],
        "doc_id long, text string",
    )
    docs.filter(F.col("doc_id") % 3 == 2).unionByName(
        s1.orderBy("doc_id").limit(20).select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"), "text"
        )
    ).unionByName(salad).coalesce(2).write.mode("append").parquet(src)

    out, idx = str(base / "out"), str(base / "idx")
    ref = "/root/testdata/sf0.1/documents.parquet"
    rep = _run(
        capsys, src, out, "--ingest-stream", "--index-out", idx,
        "--no-pii", "--quality", "0", "--lang", "",
        "--quality-model", mpath, "--quality-model-alpha", "9",
        "--lm-reference", ref, "--lm-max-ppl", "10000", "--lm-ngram", "2",
        "--stratified-split", "lang", "--train-pct", "80", "--val-pct", "10",
        "--data-card",
    )
    assert rep["mode"] == "ingest-stream" and rep["n_batches"] == 3
    # the learned tier dropped some docs; the 20 planted copies are
    # gone (dedup runs AFTER the model filter, so a copy whose
    # original was model-dropped could in principle survive — the
    # split-dir check below pins that none did here)
    assert 0 < rep["n_corpus"] < 5100
    assert rep["signature_rows"] == rep["n_corpus"]  # index: unfiltered
    assert 0 < rep["n_after_lm_filter"] <= rep["n_corpus"]
    # split dirs are a disjoint exact partition of the LM-KEPT subset
    sizes = {k: v["rows"] for k, v in rep["splits"].items()}
    assert rep["split_mode"] == "stratified:lang"
    assert sum(sizes.values()) == rep["n_after_lm_filter"]
    parts = {
        name: spark.read.parquet(f"{out}/{name}")
        for name, v in rep["splits"].items() if v["rows"]
    }
    ids = [set(r.doc_id for r in p.select("doc_id").collect()) for p in parts.values()]
    assert sum(len(s) for s in ids) == len(set().union(*ids)) == rep[
        "n_after_lm_filter"
    ]
    assert not any(i >= 30_000_000 for s in ids for i in s)  # copies+salad out
    # independent recomputation: train the same LM with the library,
    # filter the accumulated corpus, and the keep-ID SET must equal
    # the split dirs exactly (then the floor-exact shares must too)
    from solana_snapshot_etl_tools_spark.operators import ngram_lm as LM

    corpus = spark.read.parquet(f"{out}/corpus").select("doc_id", "text")
    lm = LM.ngram_lm_train(
        spark.read.parquet(ref).select("text"), n=2, min_count=2
    )
    kept = LM.perplexity_filter(corpus, lm, 10000)
    want_ids = set(r.doc_id for r in kept.select("doc_id").collect())
    assert set().union(*ids) == want_ids
    from solana_snapshot_etl_tools_spark.functions.text import lang_id

    expect = {
        r["split"]: r["n"]
        for r in stratified_split(
            kept.withColumn("_stratum", lang_id(F.col("text"))),
            "_stratum", train_pct=80, val_pct=10,
        ).groupBy("split").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {k: v for k, v in sizes.items() if v} == expect
    # data-card assertions: the card describes the LM-kept subset
    card = rep["data_card"]
    assert card["n_docs"] == rep["n_after_lm_filter"]
    assert card["exact_dup_rate"] == 0.0  # post-dedup corpus
    assert card["n_tokens"] > 0 and card["mean_quality"] > 0
    assert sum(card["languages"].values()) == card["n_docs"]


def test_source_blocklist_and_cap_batch(spark, tmp_path_factory, capsys):
    """--source-blocklist drops blocked sources at the scan;
    --source-cap keeps exactly min(cap, survivors) per source, the
    SAME survivors the library operator picks on the uncapped run's
    output (the cap is the last filter, so the uncapped corpus IS its
    input)."""
    base = tmp_path_factory.mktemp("src_curation")
    bl = base / "blocked.txt"
    bl.write_text("src0\nsrc7\n\n")
    out1, out2 = str(base / "uncapped"), str(base / "capped")
    common = (SRC, "--no-pii", "--lang", "", "--quality", "0.0",
              "--source-blocklist", str(bl))
    rep1 = _run(capsys, common[0], out1, *common[1:])
    n_blocked = (
        spark.read.parquet(SRC)
        .filter(F.col("source").isin("src0", "src7"))
        .count()
    )
    assert rep1["n_after_blocklist"] == rep1["n_input"] - n_blocked
    src_of = spark.read.parquet(SRC).select("doc_id", "source")

    def kept_ids(out, rep):
        ids = set()
        for name, v in rep["splits"].items():
            if v["rows"]:
                ids |= {
                    r.doc_id
                    for r in spark.read.parquet(f"{out}/{name}")
                    .select("doc_id").collect()
                }
        return ids

    ids1 = kept_ids(out1, rep1)
    by_src1 = {
        r.source: r.cnt
        for r in src_of.filter(F.col("doc_id").isin(list(ids1)))
        .groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert "src0" not in by_src1 and "src7" not in by_src1

    cap = 5
    rep2 = _run(capsys, common[0], out2, *common[1:], "--source-cap", str(cap))
    ids2 = kept_ids(out2, rep2)
    assert rep2["n_after_source_cap"] == len(ids2) <= len(ids1)
    by_src2 = {
        r.source: r.cnt
        for r in src_of.filter(F.col("doc_id").isin(list(ids2)))
        .groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    assert by_src2 == {s: min(cap, n) for s, n in by_src1.items()}
    # the capped ids are the library operator's choice on the
    # uncapped survivors — CLI adds composition, not new semantics
    from solana_snapshot_etl_tools_spark.operators import domains as DOM

    uncapped = src_of.filter(F.col("doc_id").isin(list(ids1)))
    want = {
        r.doc_id
        for r in DOM.source_cap(uncapped, cap, id_col="doc_id")
        .select("doc_id").collect()
    }
    assert ids2 == want


def test_source_flags_require_source_column(spark, tmp_path_factory, capsys):
    import pytest as _pytest

    base = tmp_path_factory.mktemp("src_missing")
    no_src = str(base / "no_src.parquet")
    spark.read.parquet(SRC).select("doc_id", "text").write.parquet(no_src)
    for flag in (["--source-cap", "3"],
                 ["--source-blocklist", __file__]):
        with _pytest.raises(SystemExit):
            corpus_cli.main([no_src, str(base / "o"), *flag])


def test_source_blocklist_streams_and_cap_rejected(
    spark, tmp_path_factory, capsys
):
    """--source-blocklist is a stateless filter, so it runs INSIDE
    --ingest-stream; --source-cap (a global quota) is rejected there."""
    import os

    import pytest as _pytest

    base = tmp_path_factory.mktemp("src_stream")
    src = str(base / "arrivals")
    os.makedirs(src)
    good = "the quick brown fox reads many good long books " * 3
    spark.createDataFrame(
        [(1, good + "a", "keep.example"),
         (2, good + "b", "spam.example"),
         (3, good + "c", None)],
        "doc_id long, text string, source string",
    ).coalesce(1).write.mode("append").parquet(src)
    bl = base / "bl.txt"
    bl.write_text("spam.example\n")
    with _pytest.raises(SystemExit):
        corpus_cli.main(
            [src, str(base / "o1"), "--ingest-stream",
             "--index-out", str(base / "i1"), "--source-cap", "5"]
        )
    rep = _run(
        capsys, src, str(base / "out"), "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii", "--lang", "",
        "--source-blocklist", str(bl),
    )
    assert rep["n_corpus"] == 2  # NULL source survives, spam dropped
    kept = {
        r.doc_id
        for r in spark.read.parquet(f"{base}/out/corpus")
        .select("doc_id").collect()
    }
    assert kept == {1, 3}


def test_tokenizer_eval_report_line(spark, tmp_path_factory, capsys):
    """Unpacked --tokenize emits a tokenizer_eval report line; its
    numbers must equal the library's fertility/utilization computed
    independently from the written train shards."""
    import pytest as _pytest

    out = str(tmp_path_factory.mktemp("tok_eval"))
    rep = _run(
        capsys, SRC, out, "--no-pii", "--tokenize", "48",
        "--records-per-shard", "200",
    )
    ev = rep["tokenizer_eval"]
    assert ev["corpus_fertility"] >= 1.0
    assert 0 < ev["vocab_coverage"] <= 1.0

    from solana_snapshot_etl_tools_spark.operators import (
        tokenizer_stats as TS,
    )

    train_enc = spark.read.parquet(f"{out}/train")
    # the written shards carry enough to recompute words: decode is
    # not needed — join back to the source text by id
    docs = spark.read.parquet(SRC).select("doc_id", "text")
    fert = TS.fertility_summary(docs, train_enc)
    util = TS.vocab_utilization(train_enc, rep["eos_id"])
    assert ev["corpus_fertility"] == _pytest.approx(
        fert["corpus_fertility"]
    )
    assert ev["corpus_chars_per_token"] == _pytest.approx(
        fert["corpus_chars_per_token"]
    )
    assert ev["vocab_coverage"] == _pytest.approx(util["coverage"])
    assert ev["unigram_entropy_bits"] == _pytest.approx(
        util["unigram_entropy_bits"]
    )
    # the per-script fairness line: the synthetic corpus is latin, and
    # a single-stratum premium is 1 by definition
    prem = ev["script_fertility_premium"]
    assert set(prem) == {"latin"}
    assert prem["latin"] == _pytest.approx(1.0)


@pytest.mark.slow
def test_html_extract_and_url_dedup_batch(spark, tmp_path_factory, capsys):
    """The crawl-side front of the pipeline in one run: HTML-held
    text extracted, URL variants of one page deduped on normalized
    identity, then the ordinary stages over the extracted text."""
    base = tmp_path_factory.mktemp("crawl_front")
    body = ("the quick brown fox reads many good long books and "
            "writes fine essays about them " * 3)
    rows = [
        (1, f"<html><script>junk()</script><p>{body}alpha</p></html>",
         "http://WWW.a.com/p?utm_source=x"),
        (2, f"<p>{body}alpha dup page</p>",
         "https://a.com/p"),            # would survive text dedup...
        (3, f"<p>{body}alpha</p>",
         "http://a.com:80/p/"),         # ...but 1 and 3 share a URL identity
        (4, f"<p>{body}beta</p>", "https://a.com/q"),
        (5, f"<p>{body}gamma</p>", None),  # no URL identity: passes
    ]
    src = str(base / "crawl.parquet")
    spark.createDataFrame(
        rows, "doc_id long, url_junk string, url string"
    ).withColumnRenamed("url_junk", "text").write.parquet(src)
    out = str(base / "out")
    rep = _run(
        capsys, src, out, "--html-extract", "--url-dedup",
        "--no-pii", "--lang", "", "--quality", "0.0",
    )
    # url variants: {1,3} -> min id 1; 2 is the https identity; 4, 5 pass
    assert rep["n_input"] == 5 and rep["n_after_url_dedup"] == 4
    kept = set()
    for name, v in rep["splits"].items():
        if v["rows"]:
            df = spark.read.parquet(f"{out}/{name}")
            kept |= {r.doc_id for r in df.select("doc_id").collect()}
            # extraction really happened before the text stages
            for r in df.collect():
                assert "<p>" not in r.text and "junk()" not in r.text
    assert kept == {1, 2, 4, 5}
    # the loud guard: --url-dedup on a frame without a url column
    import pytest as _pytest

    no_url = str(base / "no_url.parquet")
    spark.read.parquet(src).select("doc_id", "text").write.parquet(no_url)
    with _pytest.raises(SystemExit):
        corpus_cli.main([no_url, str(base / "o2"), "--url-dedup"])


@pytest.mark.slow
def test_html_extract_streams(spark, tmp_path_factory, capsys):
    import os

    base = tmp_path_factory.mktemp("html_stream")
    src = str(base / "arrivals")
    os.makedirs(src)
    body = "the quick brown fox reads many good long books " * 3
    spark.createDataFrame(
        [(1, f"<div>{body}one</div>"), (2, f"<p>{body}two</p>")],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(src)
    rep = _run(
        capsys, src, str(base / "out"), "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii", "--lang", "",
        "--html-extract",
    )
    assert rep["n_corpus"] == 2
    for r in spark.read.parquet(f"{base}/out/corpus").collect():
        assert "<" not in r.text and r.text.startswith("the quick")


@pytest.mark.slow
def test_term_blocklist_stage_batch_and_stream(spark, tmp_path_factory, capsys):
    """--term-blocklist drops high-density documents in BOTH modes
    with the identical (column-expression) rule; the Scunthorpe case
    survives."""
    import os

    import pytest as _pytest

    base = tmp_path_factory.mktemp("term_bl")
    good = "the quick brown fox reads many good long books " * 3
    rows = [
        (1, good + "a clean essay"),
        (2, good + ("zorblat " * 40)),     # dense bad term
        (3, good + "subzorblat classzorblat"),  # substrings: clean
        (4, good + "one zorblat mention"),      # low density
    ]
    src = str(base / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    bl = base / "terms.txt"
    bl.write_text("zorblat\n")
    rep = _run(
        capsys, src, str(base / "out"), "--no-pii", "--lang", "",
        "--quality", "0.0", "--term-blocklist", str(bl),
        "--term-max-ratio", "0.05",
    )
    kept = set()
    for name, v in rep["splits"].items():
        if v["rows"]:
            kept |= {
                r.doc_id
                for r in spark.read.parquet(f"{base}/out/{name}")
                .select("doc_id").collect()
            }
    assert kept == {1, 3, 4}
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, str(base / "o2"), "--term-max-ratio", "0.1"])
    # review r8: a negative threshold would silently empty the corpus
    with _pytest.raises(SystemExit):
        corpus_cli.main(
            [src, str(base / "o3"), "--term-blocklist", str(bl),
             "--term-max-ratio", "-0.1"]
        )

    arrivals = str(base / "arrivals")
    os.makedirs(arrivals)
    spark.createDataFrame(rows, "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(arrivals)
    rep2 = _run(
        capsys, arrivals, str(base / "sout"), "--ingest-stream",
        "--index-out", str(base / "sidx"), "--no-pii", "--lang", "",
        "--quality", "0.0", "--term-blocklist", str(bl),
        "--term-max-ratio", "0.05",
    )
    skept = {
        r.doc_id
        for r in spark.read.parquet(f"{base}/sout/corpus")
        .select("doc_id").collect()
    }
    assert skept == kept


def test_source_mixture_stage(spark, tmp_path_factory, capsys):
    """--source-mixture samples the final corpus to an explicit
    per-source recipe — the kept ids must equal the library sampler
    applied to the uncapped run's survivors, and unlisted sources
    must vanish."""
    base = tmp_path_factory.mktemp("src_mix")
    out1, out2 = str(base / "plain"), str(base / "mixed")
    common = (SRC, "--no-pii", "--lang", "", "--quality", "0.0")
    rep1 = _run(capsys, common[0], out1, *common[1:])
    rep2 = _run(
        capsys, common[0], out2, *common[1:],
        "--source-mixture", "src1=3,src2=1",
    )

    def kept_ids(out, rep):
        ids = set()
        for name, v in rep["splits"].items():
            if v["rows"]:
                ids |= {
                    r.doc_id
                    for r in spark.read.parquet(f"{out}/{name}")
                    .select("doc_id").collect()
                }
        return ids

    ids1, ids2 = kept_ids(out1, rep1), kept_ids(out2, rep2)
    assert rep2["n_after_source_mixture"] == len(ids2) < len(ids1)
    src_of = spark.read.parquet(SRC).select("doc_id", "source")
    srcs = {
        r.source
        for r in src_of.filter(F.col("doc_id").isin(list(ids2)))
        .select("source").distinct().collect()
    }
    assert srcs <= {"src1", "src2"}
    from solana_snapshot_etl_tools_spark.operators.sampling import (
        target_mixture_sample,
    )

    uncapped = src_of.filter(F.col("doc_id").isin(list(ids1)))
    want = {
        r.doc_id
        for r in target_mixture_sample(
            uncapped, "source", {"src1": 3.0, "src2": 1.0}
        ).collect()
    }
    assert ids2 == want
    # malformed recipes and stream mode are rejected loudly
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        corpus_cli.main([SRC, str(base / "o"), "--source-mixture", "src1"])
    with _pytest.raises(SystemExit):
        corpus_cli.main(
            [SRC, str(base / "o"), "--ingest-stream", "--index-out",
             str(base / "i"), "--source-mixture", "src1=1"]
        )


def test_script_filter_batch_routes_on_writing_system(
    spark, tmp_path_factory, capsys
):
    """--script-filter: the dominant-script routing stage, end to end.
    A mixed Latin/Cyrillic/CJK corpus routed to latin-only keeps
    exactly the Latin documents in the written shards."""
    import os
    import pytest as _pytest

    base = tmp_path_factory.mktemp("script_route")
    src = str(base / "docs")
    latin = "the quick brown fox reads many fine books about rivers "
    cyr = "быстрая коричневая лиса читает много хороших книг о реках "
    cjk = "敏捷的棕色狐狸读了很多关于河流的好书籍 "
    rows = [
        (1, latin * 4),
        (2, cyr * 4),
        (3, cjk * 4),
        (4, (latin + "and more plain text ") * 4),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(base / "out")
    rep = _run(
        capsys, src, out, "--no-pii", "--quality", "0", "--lang", "",
        "--script-filter", "latin", "--records-per-shard", "100",
    )
    kept = set()
    for name, sz in rep["splits"].items():
        if sz["rows"]:
            kept |= {
                r.doc_id
                for r in spark.read.parquet(f"{out}/{name}").collect()
            }
    assert kept == {1, 4}
    # two scripts: latin + cyrillic survive
    out2 = str(base / "out2")
    rep2 = _run(
        capsys, src, out2, "--no-pii", "--quality", "0", "--lang", "",
        "--script-filter", "latin,cyrillic",
    )
    assert rep2["n_after_filters"] == 3
    # unknown script name dies loudly at argparse time
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, str(base / "never"), "--script-filter",
                         "klingon"])
    assert os.path.exists(out)


def test_script_filter_streams(spark, tmp_path_factory, capsys):
    """--script-filter runs unchanged inside --ingest-stream (pure
    column expression)."""
    import os

    base = tmp_path_factory.mktemp("script_stream")
    src = str(base / "arrivals")
    os.makedirs(src)
    latin = "plain latin text with many common readable words here "
    cyr = "обычный русский текст с множеством привычных слов здесь "
    spark.createDataFrame(
        [(1, latin * 4), (2, cyr * 4)], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    rep = _run(
        capsys, src, str(base / "out"), "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii",
        "--quality", "0", "--lang", "", "--script-filter", "cyrillic",
    )
    assert rep["n_corpus"] == 1
    ids = {
        r.doc_id for r in spark.read.parquet(f"{base}/out/corpus").collect()
    }
    assert ids == {2}


def test_stratified_split_by_script(spark, tmp_path_factory, capsys):
    """--stratified-split script: floor-exact per-writing-system
    shares in the written outputs."""
    from solana_snapshot_etl_tools_spark.functions.text import (
        dominant_script,
    )

    base = tmp_path_factory.mktemp("script_strat")
    src = str(base / "docs")
    latin = "the quick brown fox reads many fine books about rivers "
    cyr = "быстрая коричневая лиса читает много хороших книг о реках "
    rows = [(i, latin * 3 + f"doc {i} ") for i in range(20)] + [
        (100 + i, cyr * 3 + f"док {i} ") for i in range(10)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(base / "out")
    rep = _run(
        capsys, src, out, "--no-pii", "--quality", "0", "--lang", "",
        "--stratified-split", "script", "--train-pct", "80",
        "--val-pct", "10", "--records-per-shard", "100",
    )
    assert rep["split_mode"] == "stratified:script"
    per = {}
    for name, sz in rep["splits"].items():
        if not sz["rows"]:
            continue
        df = spark.read.parquet(f"{out}/{name}").withColumn(
            "_s", dominant_script(F.col("text"))
        )
        for r in df.groupBy("_s").count().collect():
            per.setdefault(r._s, {})[name] = r["count"]
    assert set(per) == {"latin", "cyrillic"}
    for script, counts in per.items():
        t = sum(counts.values())
        n_tr = t * 80 // 100
        n_val = t * 90 // 100 - n_tr
        assert counts.get("train", 0) == n_tr, (script, counts)
        assert counts.get("val", 0) == n_val, (script, counts)


def _decontam_fixture(spark, base):
    """Docs 1-5; embeddings for 1-4 (5 has none); bench matches 1
    exactly and 2 nearly; 3/4 orthogonal."""
    src = str(base / "docs")
    spark.createDataFrame(
        [(i, f"document number {i} with plain readable words " * 3)
         for i in range(1, 6)],
        "doc_id long, text string",
    ).write.parquet(src)
    emb = str(base / "emb")
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.04, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>"
    ).write.parquet(emb)
    bench = str(base / "bench")
    spark.createDataFrame(
        [(900, [1.0, 0.0, 0.0, 0.0]), (901, [0.0, 0.0, 0.0, 1.0])],
        "bench_id long, embedding array<double>",
    ).write.parquet(bench)
    return src, emb, bench


def test_decontam_bench_batch_stage(spark, tmp_path_factory, capsys):
    """--decontam-bench in the batch pipeline: embedding-space
    decontamination drops the paraphrase-leak docs; docs without an
    embedding pass through unchecked."""
    import pytest as _pytest

    base = tmp_path_factory.mktemp("decontam_batch")
    src, emb, bench = _decontam_fixture(spark, base)
    out = str(base / "out")
    rep = _run(
        capsys, src, out, "--no-pii", "--quality", "0", "--lang", "",
        "--embeddings", emb, "--decontam-bench", bench,
        "--decontam-threshold", "0.98", "--records-per-shard", "100",
    )
    assert rep["n_decontam_flagged"] == 2  # docs 1 and 2 match bench 900
    assert rep["n_after_decontam"] == 3
    kept = set()
    for name, sz in rep["splits"].items():
        if sz["rows"]:
            kept |= {
                r.doc_id
                for r in spark.read.parquet(f"{out}/{name}").collect()
            }
    assert kept == {3, 4, 5}  # 5 has no embedding: passes through
    # flag-pairing guards
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--decontam-bench", bench])
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--decontam-bench", bench,
                         "--decontam-threshold", "0.98"])  # no --embeddings
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--embeddings", emb,
                         "--decontam-bench", bench,
                         "--decontam-threshold", "1.5"])


def test_decontam_bench_composes_with_ingest_stream(
    spark, tmp_path_factory, capsys
):
    """The multi-flag stream e2e: --ingest-stream + cleaning flags +
    --decontam-bench (post-drain) + --stratified-split + --data-card.
    The append-only corpus keeps every survivor of the IN-stream
    tiers; the derived views (split dirs, data card) see only the
    decontaminated subset."""
    import os

    base = tmp_path_factory.mktemp("decontam_stream")
    src, emb, bench = _decontam_fixture(spark, base)
    arrivals = str(base / "arrivals")
    os.makedirs(arrivals)
    spark.read.parquet(src).coalesce(1).write.mode("append").parquet(arrivals)
    out = str(base / "out")
    rep = _run(
        capsys, arrivals, out, "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii",
        "--quality", "0", "--lang", "",
        "--embeddings", emb, "--decontam-bench", bench,
        "--decontam-threshold", "0.98",
        "--stratified-split", "lang", "--train-pct", "80",
        "--val-pct", "10", "--data-card",
    )
    assert rep["n_corpus"] == 5           # append-only state: unfiltered
    assert rep["n_decontam_flagged"] == 2
    assert rep["n_after_decontam"] == 3
    assert rep["data_card"]["n_docs"] == 3
    split_ids = set()
    for name, sz in rep["splits"].items():
        if sz["rows"]:
            split_ids |= {
                r.doc_id
                for r in spark.read.parquet(f"{out}/{name}").collect()
            }
    assert split_ids == {3, 4, 5}


def test_dsir_stage_batch(spark, tmp_path_factory, capsys):
    """--dsir-target/--dsir-keep: target-resampling keeps exactly N
    documents and skews the kept set toward target-like text."""
    import pytest as _pytest

    base = tmp_path_factory.mktemp("dsir_cli")
    src = str(base / "docs")
    sparky = "spark shuffle partitions executors streaming optimizer join "
    offtopic = "sourdough bread rye flour honey garden tomato basil sun "
    rows = [(i, sparky + f"variant {i} " * 2) for i in range(10)] + [
        (100 + i, offtopic + f"note {i} " * 2) for i in range(10)
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    tgt = str(base / "target")
    spark.createDataFrame(
        [("the spark optimizer shuffles streaming partitions",)],
        "text string",
    ).write.parquet(tgt)
    out = str(base / "out")
    rep = _run(
        capsys, src, out, "--no-pii", "--quality", "0", "--lang", "",
        "--dsir-target", tgt, "--dsir-keep", "8",
        "--records-per-shard", "100",
    )
    assert rep["n_after_dsir"] == 8
    kept = set()
    for name, sz in rep["splits"].items():
        if sz["rows"]:
            kept |= {
                r.doc_id
                for r in spark.read.parquet(f"{out}/{name}").collect()
            }
    assert len(kept) == 8
    # the resample must skew hard toward the target-like half
    assert sum(1 for i in kept if i < 100) >= 6
    # pairing guards (stream mode ACCEPTS --dsir-target since the
    # post-drain stage landed — covered by
    # test_cli_dsir_save_then_model_and_stream_post_drain)
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--dsir-target", tgt])
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--dsir-target", tgt,
                         "--dsir-keep", "0"])


@pytest.mark.slow
def test_boilerplate_stage_batch_and_stream(
    spark, tmp_path_factory, capsys
):
    """--boilerplate-min-df strips corpus-frequent lines BEFORE the
    dedup tier in batch mode (pages differing only in shared banners
    collapse); in stream mode it runs post-drain over the accumulated
    corpus, rewriting the derived views only."""
    import pytest as _pytest

    base = tmp_path_factory.mktemp("boiler_cli")
    src = str(base / "docs")
    banner = "Accept our cookies to continue"
    body = "a genuinely readable article with many plain words "
    rows = [
        (1, f"{banner}\n{body}about rivers " * 1),
        (2, f"{banner}\n{body}about trains "),
        # 3 and 4: same article, different banner position — only
        # boilerplate removal lets exact dedup collapse them
        (3, f"{banner}\n{body}about ships "),
        (4, f"{body}about ships \n{banner}"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(base / "out")
    rep = _run(
        capsys, src, out, "--no-pii", "--quality", "0", "--lang", "",
        "--boilerplate-min-df", "3", "--records-per-shard", "100",
    )
    assert rep["n_after_dedup"] == 3  # 3/4 collapsed post-banner-strip
    texts = {
        r.doc_id: r.text
        for name, sz in rep["splits"].items()
        if sz["rows"]
        for r in spark.read.parquet(f"{out}/{name}").collect()
    }
    assert all("cookies" not in t for t in texts.values())
    with _pytest.raises(SystemExit):
        corpus_cli.main([src, out, "--boilerplate-min-df", "1"])

    # stream mode: boilerplate runs POST-DRAIN — the derived split
    # views lose the banner, the append-only corpus keeps the raw
    # arrival text (the batch-ordering caveat is documented)
    import os

    arrivals = str(base / "arrivals")
    os.makedirs(arrivals)
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(arrivals)
    sout, idx = str(base / "sout"), str(base / "idx")
    srep = _run(
        capsys, arrivals, sout, "--ingest-stream", "--index-out", idx,
        "--no-pii", "--quality", "0", "--lang", "",
        "--boilerplate-min-df", "3", "--stratified-split", "lang",
    )
    assert srep["n_boilerplate_lines_removed"] >= 3
    raw = [r.text for r in spark.read.parquet(f"{sout}/corpus").collect()]
    assert any("cookies" in t for t in raw)  # append-only state whole
    stream_texts = [
        r.text
        for name, sz in srep["splits"].items()
        if sz["rows"]
        for r in spark.read.parquet(f"{sout}/{name}").collect()
    ]
    assert stream_texts and all("cookies" not in t for t in stream_texts)


@pytest.mark.slow
def test_decontam_ngrams_stage_batch_and_stream(
    spark, tmp_path_factory, capsys
):
    """--decontam-ngrams: verbatim k-gram decontamination as a batch
    stage and a post-drain stream stage, with the per-item audit
    table; max-overlap semantics and validation."""
    base = tmp_path_factory.mktemp("ngram_decontam_cli")
    leaked = ("the quick brown fox jumps over the lazy dog "
              "while the band plays on")
    rows = [
        (1, leaked + " plus original trailing content here"),
        (2, "a perfectly original document about gardening and soil"),
        (3, "another original document about trains and rails"),
    ]
    src = str(base / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    bench = str(base / "bench")
    spark.createDataFrame(
        [(leaked,), ("short item",)], "text string"
    ).write.parquet(bench)

    out = str(base / "out")
    rep = _run(capsys, src, out, "--no-pii", "--quality", "0",
               "--lang", "", "--decontam-ngrams", bench,
               "--decontam-audit")
    assert rep["n_ngram_decontam_flagged"] == 1
    assert rep["n_after_ngram_decontam"] == 2
    assert rep["n_bench_items_dirty"] == 1
    assert rep["n_bench_items_unmeasurable"] == 1  # 'short item' < k
    audit = spark.read.parquet(f"{out}/decontam_audit")
    assert audit.filter("clean = false").count() == 1

    # a permissive overlap bound keeps the partially-contaminated doc
    rep2 = _run(capsys, src, str(base / "out2"), "--no-pii",
                "--quality", "0", "--lang", "",
                "--decontam-ngrams", bench,
                "--decontam-max-overlap", "0.99")
    assert rep2["n_after_ngram_decontam"] == 3

    # stream: post-drain, append-only corpus whole
    import os

    arrivals = str(base / "arrivals")
    os.makedirs(arrivals)
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(arrivals)
    sout = str(base / "sout")
    srep = _run(capsys, arrivals, sout, "--ingest-stream",
                "--index-out", str(base / "idx"), "--no-pii",
                "--quality", "0", "--lang", "",
                "--decontam-ngrams", bench, "--stratified-split", "lang")
    assert srep["n_corpus"] == 3
    assert srep["n_after_ngram_decontam"] == 2
    split_ids = {
        r.doc_id
        for name, sz in srep["splits"].items()
        if sz["rows"]
        for r in spark.read.parquet(f"{sout}/{name}").collect()
    }
    assert split_ids == {2, 3}

    import pytest as _pytest

    with _pytest.raises(SystemExit):  # audit without the stage
        corpus_cli.main([src, out, "--decontam-audit"])
    with _pytest.raises(SystemExit):  # bad overlap bound
        corpus_cli.main([src, out, "--decontam-ngrams", bench,
                         "--decontam-max-overlap", "1.0"])


@pytest.mark.slow
def test_discover_boilerplate_stage(spark, tmp_path_factory, capsys):
    """--discover-boilerplate: the report carries the top heavy-hitter
    lines (exact distinct-doc frequencies on the pre-filter frame),
    heavy-hitter tokens, and a suggested --boilerplate-min-df that
    recomputes bit-for-bit from the library rule on the reported doc
    count — measurement closed to action."""
    from solana_snapshot_etl_tools_spark.operators.paragraphs import (
        frequent_lines,
        suggest_boilerplate_min_df,
    )

    base = tmp_path_factory.mktemp("discover_bp")
    banner = "Subscribe To Our Newsletter"
    rows = [
        (i, f"{banner}\ndocument body number {i} with plain words")
        for i in range(1, 9)
    ] + [(i, f"document body number {i} alone here") for i in range(9, 13)]
    src = str(base / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    rep = _run(
        capsys, src, str(base / "out"), "--no-pii", "--quality", "0",
        "--lang", "", "--discover-boilerplate", "5",
        "--boilerplate-min-df", "8",
    )
    # suggestion == the library rule on the reported count, exactly
    assert rep["suggested_boilerplate_min_df"] == suggest_boilerplate_min_df(
        rep["boilerplate_discovery_n_docs"]
    )
    assert rep["boilerplate_discovery_n_docs"] == 12
    # the banner tops the line report with its exact doc frequency —
    # and the discovery ran on the PRE-filter frame even though the
    # filter also ran (the banner is stripped from the output shards)
    lines = {l: f for l, f in rep["frequent_lines"]}
    assert lines["subscribe to our newsletter"] == 8
    lib = {
        r.line: r.doc_freq
        for r in frequent_lines(
            spark.createDataFrame(rows, "doc_id long, text string"), top=5
        ).collect()
    }
    assert lines == lib
    assert len(rep["frequent_lines"]) <= 5
    toks = {t: n for t, n, _ in rep["frequent_tokens"]}
    assert toks  # non-empty at support 1e-3 on this corpus
    assert all(n >= 1 for n in toks.values())
    for name, v in rep["splits"].items():
        if v["rows"]:
            for r in spark.read.parquet(f"{base}/out/{name}").collect():
                assert "Subscribe" not in r.text

    # stream mode: post-drain measurement over the accumulated corpus
    import os

    arrivals = str(base / "arrivals")
    os.makedirs(arrivals)
    spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(arrivals)
    srep = _run(
        capsys, arrivals, str(base / "sout"), "--ingest-stream",
        "--index-out", str(base / "idx"), "--no-pii", "--quality", "0",
        "--lang", "", "--discover-boilerplate", "5",
    )
    slines = {l: f for l, f in srep["frequent_lines"]}
    assert slines["subscribe to our newsletter"] == 8
    assert srep["suggested_boilerplate_min_df"] == suggest_boilerplate_min_df(
        srep["boilerplate_discovery_n_docs"]
    )

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        corpus_cli.main([src, str(base / "o2"),
                         "--discover-boilerplate", "0"])


@pytest.mark.slow
def test_dedup_prefer_keeps_best_member(spark, tmp_path_factory, capsys):
    """--dedup-prefer COL: the near-dup family's survivor is its
    highest-COL member (default stays min-id), for both the minhash
    component stage and the --semdedup stage; bad usage fails loudly
    (unknown column, non-numeric column, stream mode, no dedup stage)."""
    import pytest

    base = tmp_path_factory.mktemp("prefer")
    body = " ".join(f"tok{i}" for i in range(60))
    docs = spark.createDataFrame(
        [
            # near-dup family {1, 2}: 2 is higher quality but higher id,
            # so min-id and keep-best disagree
            (1, body + " tail_a", 0.2),
            (2, body + " tail_b", 0.9),
            (3, "completely different content about another topic "
                "with its own vocabulary and no shared shingles at all",
             0.5),
        ],
        "doc_id long, text string, quality double",
    )
    src = str(base / "docs")
    docs.write.parquet(src)

    def survivors(out):
        ids = set()
        for split in ("train", "val", "test"):
            try:
                ids |= {
                    r.doc_id
                    for r in spark.read.parquet(f"{out}/{split}").collect()
                }
            except Exception:
                pass
        return ids

    common = ["--no-pii", "--quality", "0", "--lang", ""]
    out1 = str(base / "out1")
    rep = _run(capsys, src, out1, "--near-dedup",
               "--dedup-prefer", "quality", *common)
    assert rep["dedup_prefer"] == "quality"
    assert rep["n_after_dedup"] == 2
    assert survivors(out1) == {2, 3}
    # default keeps min id
    out2 = str(base / "out2")
    rep2 = _run(capsys, src, out2, "--near-dedup", *common)
    assert "dedup_prefer" not in rep2
    assert survivors(out2) == {1, 3}

    # --semdedup path: near-identical embedding pair, quality decides
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.01, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    epath = str(base / "emb")
    emb.write.parquet(epath)
    out3 = str(base / "out3")
    rep3 = _run(capsys, src, out3, "--embeddings", epath,
                "--semdedup", "0.95", "--semdedup-k", "2",
                "--dedup-prefer", "quality", *common)
    assert rep3["n_semdedup_dropped"] == 1
    assert survivors(out3) == {2, 3}

    # loud failures: unknown column / non-numeric / no stage / stream
    for bad in (
        [src, str(base / "e1"), "--near-dedup", "--dedup-prefer", "nope"],
        [src, str(base / "e2"), "--near-dedup", "--dedup-prefer", "text"],
        [src, str(base / "e3"), "--dedup-prefer", "quality"],
        [src, str(base / "e4"), "--ingest-stream", "--index-out",
         str(base / "idx"), "--near-dedup", "--dedup-prefer", "quality"],
    ):
        with pytest.raises(SystemExit):
            corpus_cli.main(bad + common)
        capsys.readouterr()


def test_bucket_by_layout_batch(spark, tmp_path_factory, capsys):
    """--bucket-by doc_id:4 writes each split as a bucketed table with
    the spec sidecar; a same-spec self-join plans with NO Exchange —
    the CLI's own output carries the join-free layout."""
    from solana_snapshot_etl_tools_spark.operators import bucketing as B

    out = str(tmp_path_factory.mktemp("corpus_bkt"))
    try:
        rep = _run(capsys, SRC, out, "--no-pii", "--bucket-by", "doc_id:4")
        assert rep["splits"]["train"]["layout"] == "bucketed(doc_id:4)"
        assert rep["splits"]["train"]["rows"] > 0
        # sidecar written beside the data with the true spec
        spec = B.read_bucket_spec(spark, f"{out}/train")
        assert spec["bucket_col"] == "doc_id"
        assert spec["num_buckets"] == 4
        # the written layout joins shuffle-free against itself
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            t = spark.table("corpus_train_bkt")
            plan = (
                t.join(t.select("doc_id", F.col("n_tokens").alias("nt2")),
                       "doc_id")
                ._jdf.queryExecution().executedPlan().toString()
            )
            assert "Exchange" not in plan, plan
            assert "SortMergeJoin" in plan, plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    finally:
        for s in ("train", "val", "test"):
            spark.sql(f"DROP TABLE IF EXISTS corpus_{s}_bkt")


def test_zorder_layout_batch(spark, tmp_path_factory, capsys):
    out = str(tmp_path_factory.mktemp("corpus_zorder"))
    rep = _run(capsys, SRC, out, "--no-pii",
               "--zorder", "doc_id,n_tokens", "--zorder-files", "4")
    assert rep["splits"]["train"]["layout"] == "zorder(doc_id,n_tokens)"
    train = spark.read.parquet(f"{out}/train")
    assert train.count() == rep["splits"]["train"]["rows"] > 0
    assert set(train.columns) == {"doc_id", "text", "n_tokens"}
    # ids survive the re-layout exactly
    plain_ids = {r.doc_id for r in train.select("doc_id").collect()}
    assert len(plain_ids) == rep["splits"]["train"]["rows"]


def test_zorder_pinned_ranges(spark, tmp_path_factory, capsys):
    """--zorder-ranges pins the scaling grid (incremental posture):
    two runs over DIFFERENT doc subsets share one grid, so a file's
    bounding box from either run is comparable — the per-write
    measured grid would rescale each run to its own min/max."""
    out1 = str(tmp_path_factory.mktemp("corpus_zr1"))
    rep = _run(capsys, SRC, out1, "--no-pii",
               "--zorder", "doc_id,n_tokens", "--zorder-files", "4",
               "--zorder-ranges", "doc_id=0:100000,n_tokens=0:4096")
    assert rep["splits"]["train"]["zorder_pinned_ranges"] == {
        "doc_id": [0.0, 100000.0], "n_tokens": [0.0, 4096.0],
    }
    assert rep["splits"]["train"]["rows"] > 0
    # partial pin is allowed: unnamed columns stay measured per write
    out2 = str(tmp_path_factory.mktemp("corpus_zr2"))
    rep2 = _run(capsys, SRC, out2, "--no-pii",
                "--zorder", "doc_id,n_tokens", "--zorder-files", "4",
                "--zorder-ranges", "doc_id=0:100000")
    assert rep2["splits"]["train"]["zorder_pinned_ranges"] == {
        "doc_id": [0.0, 100000.0],
    }


def test_zorder_ranges_validate(tmp_path_factory, capsys):
    import pytest

    out = str(tmp_path_factory.mktemp("corpus_zrv"))
    with pytest.raises(SystemExit):  # requires --zorder
        corpus_cli.main([SRC, out, "--zorder-ranges", "doc_id=0:10"])
    with pytest.raises(SystemExit):  # column not in --zorder
        corpus_cli.main([SRC, out, "--zorder", "doc_id,n_tokens",
                         "--zorder-ranges", "lang=0:10"])
    with pytest.raises(SystemExit):  # LO must be < HI
        corpus_cli.main([SRC, out, "--zorder", "doc_id,n_tokens",
                         "--zorder-ranges", "doc_id=10:10"])
    with pytest.raises(SystemExit):  # malformed spec
        corpus_cli.main([SRC, out, "--zorder", "doc_id,n_tokens",
                         "--zorder-ranges", "doc_id=ten:20"])
    with pytest.raises(SystemExit):  # missing '='
        corpus_cli.main([SRC, out, "--zorder", "doc_id,n_tokens",
                         "--zorder-ranges", "doc_id:0:20"])
    capsys.readouterr()


def test_layout_flags_validate(tmp_path_factory, capsys):
    import pytest

    out = str(tmp_path_factory.mktemp("corpus_lv"))
    with pytest.raises(SystemExit):
        corpus_cli.main([SRC, out, "--bucket-by", "doc_id", "--zorder",
                         "doc_id,n_tokens"])
    with pytest.raises(SystemExit):
        corpus_cli.main([SRC, out, "--bucket-by", "doc_id:zero"])
    with pytest.raises(SystemExit):
        corpus_cli.main([SRC, out, "--zorder", "doc_id"])  # needs 2-4
    with pytest.raises(SystemExit):
        corpus_cli.main([SRC, out, "--bucket-by", "doc_id",
                         "--shard-target-mb", "1"])
    with pytest.raises(SystemExit):  # file count must be >= 1
        corpus_cli.main([SRC, out, "--zorder", "doc_id,n_tokens",
                         "--zorder-files", "0"])
    with pytest.raises(SystemExit):
        corpus_cli.main([SRC, out, "--zorder", "doc_id,n_tokens",
                         "--zorder-files", "-4"])
    capsys.readouterr()


def test_domain_quality_stage_batch(spark, tmp_path, tmp_path_factory, capsys):
    """--domain-quality: a content farm's uniformly-mediocre docs die
    as a WHOLE DOMAIN even though each slips past the per-doc cut."""
    good = ("this is a perfectly ordinary sentence with the usual "
            "words and plenty of the most common stopwords that the "
            "score rewards because they are of use to have with that")
    # mediocre but English: passes lang-id and a low per-doc cut,
    # while the domain MEAN lands under the domain threshold
    mediocre = ("buy buy buy cheap cheap deal deal deal the of and "
                "click here now !!! best price sale sale sale the of")
    rows = (
        # distinct texts: the later exact-dedup stage must not
        # collapse the survivors this test counts
        [(f"f{i}", f"http://farm.example/p{i}", f"{mediocre} item {i}")
         for i in range(4)]
        + [(f"g{i}", f"http://good.example/p{i}", f"{good} chapter {i}")
           for i in range(4)]
        + [("l0", "http://lone.example/only", mediocre)]  # < MIN_DOCS
    )
    src = str(tmp_path / "dq.parquet")
    spark.createDataFrame(
        rows, "doc_id string, url string, text string"
    ).write.parquet(src)

    from solana_snapshot_etl_tools_spark.functions.text import quality_score
    med_q = (
        spark.createDataFrame([(mediocre,)], "text string")
        .select(quality_score(F.col("text")).alias("q")).collect()[0].q
    )
    good_q = (
        spark.createDataFrame([(good,)], "text string")
        .select(quality_score(F.col("text")).alias("q")).collect()[0].q
    )
    cut = (med_q + good_q) / 2  # between the two domain means

    out = str(tmp_path_factory.mktemp("dq_out"))
    rep = _run(capsys, src, out, "--no-pii", "--quality", "0",
               "--domain-quality", f"{cut}:3")
    assert rep["n_after_domain_quality"] == 5  # farm gone, lone kept
    ids = {
        r.doc_id
        for k in ("train", "val", "test")
        if rep["splits"][k]["rows"]
        for r in spark.read.parquet(f"{out}/{k}").select("doc_id").collect()
    }
    assert ids == {"g0", "g1", "g2", "g3", "l0"}

    import pytest as _pt
    with _pt.raises(SystemExit):  # needs a url column
        corpus_cli.main([SRC, out, "--domain-quality", "0.5"])
    with _pt.raises(SystemExit):  # malformed spec
        corpus_cli.main([src, out, "--domain-quality", "high"])
    with _pt.raises(SystemExit):  # out-of-range Q
        corpus_cli.main([src, out, "--domain-quality", "1.5"])


def test_source_from_url_unlocks_source_suite(spark, tmp_path, tmp_path_factory, capsys):
    """--source-from-url: crawl-shaped input (url, no source) gains a
    registered-domain source column, and the source-curation flags
    (--source-cap here) work on it end-to-end."""
    good = ("this is a perfectly ordinary sentence with the usual "
            "words and plenty of the most common stopwords that the "
            "score rewards because they are of use to have with that")
    rows = (
        [(f"b{i}", f"http://sub{i}.big.example/p", f"{good} page {i}")
         for i in range(6)]
        + [(f"s{i}", f"http://small.example/p{i}", f"{good} note {i}")
           for i in range(2)]
    )
    src = str(tmp_path / "sfu.parquet")
    spark.createDataFrame(
        rows, "doc_id string, url string, text string"
    ).write.parquet(src)

    out = str(tmp_path_factory.mktemp("sfu_out"))
    rep = _run(capsys, src, out, "--no-pii", "--quality", "0",
               "--source-from-url", "--source-cap", "3")
    # all 6 big.example subdomains collapse to ONE registered-domain
    # source and get capped at 3; small.example keeps both
    assert rep["n_after_filters"] == 5

    # the derivation lives in _read_input, so re-reading stages see
    # it too: --profile-by source (the motivating case) groups by the
    # derived registered domain
    out2 = str(tmp_path_factory.mktemp("sfu_prof"))
    rep2 = _run(capsys, src, out2, "--no-pii", "--quality", "0",
                "--source-from-url", "--profile", "--profile-by", "source")
    groups = {r.source for r in spark.read.parquet(f"{out2}/profile").collect()}
    assert groups == {"big.example", "small.example"}
    assert rep2["n_after_filters"] == 8  # no cap this run

    import pytest as _pt
    # input already carrying source: refused, not overwritten
    src2 = str(tmp_path / "sfu2.parquet")
    spark.createDataFrame(
        [("d1", "http://a.example/x", good, "handmade")],
        "doc_id string, url string, text string, source string",
    ).write.parquet(src2)
    with _pt.raises(SystemExit, match="already has"):
        corpus_cli.main([src2, out, "--no-pii", "--source-from-url"])
    # no url column: refused
    with _pt.raises(SystemExit, match="url"):
        corpus_cli.main([SRC, out, "--no-pii", "--source-from-url"])
