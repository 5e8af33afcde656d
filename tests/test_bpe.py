"""BPE tokenizer: training and encoding vs an independent naive
reference (plain-dict Sennrich algorithm, no weighting tricks, no
memoization), plus determinism / roundtrip / distribution properties."""

from __future__ import annotations

from pyspark.sql import functions as F

from solana_snapshot_etl_tools_spark.operators import bpe as B
from solana_snapshot_etl_tools_spark.session import clear_memo


# --- naive reference ---------------------------------------------------------


def _ref_train(texts: list[str], n_merges: int):
    words: list[list[str]] = []
    for t in texts:
        for w in t.lower().split():
            words.append(list(w) + [B.EOW])
    merges = []
    for _ in range(n_merges):
        counts: dict = {}
        for sym in words:
            for p in zip(sym, sym[1:]):
                counts[p] = counts.get(p, 0) + 1
        if not counts:
            break
        best = max(counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        for sym in words:
            i = 0
            while i < len(sym) - 1:
                if sym[i] == a and sym[i + 1] == b:
                    sym[i : i + 2] = [a + b]
                else:
                    i += 1
    return merges


def _ref_encode_word(word: str, merges) -> list[str]:
    sym = list(word) + [B.EOW]
    for a, b in merges:  # rank order — earlier merges apply first
        i = 0
        while i < len(sym) - 1:
            if sym[i] == a and sym[i + 1] == b:
                sym[i : i + 2] = [a + b]
            else:
                i += 1
    return sym


TEXTS = [
    "the lowest newest widest test of the newer lower wider tester",
    "low lower lowest new newer newest wide wider widest",
    "the the the test test tester testing tested",
    "ünïcöde wörds müst also merge ünïcöde wörds",
]


def _docs(spark):
    return spark.createDataFrame(
        list(enumerate(TEXTS)), "doc_id long, text string"
    )


def test_bpe_train_matches_reference(spark):
    model = B.bpe_train(_docs(spark), n_merges=40)
    assert model["merges"] == _ref_train(TEXTS, 40)
    assert len(model["merges"]) > 10
    # alphabet covers every character of the corpus
    assert set(model["alphabet"]) == {c for t in TEXTS for w in t.lower().split() for c in w}


def test_bpe_encode_matches_reference_and_roundtrips(spark):
    docs = _docs(spark)
    model = B.bpe_train(docs, n_merges=40)
    vocab = B.bpe_vocab(model)
    inv = {v: k for k, v in vocab.items()}
    out = {r.doc_id: r for r in B.bpe_encode(docs, model).collect()}
    assert set(out) == set(range(len(TEXTS)))
    for did, t in enumerate(TEXTS):
        want = []
        for w in t.lower().split():
            want.extend(vocab[s] for s in _ref_encode_word(w, model["merges"]))
        assert list(out[did].token_ids) == want
        assert out[did].n_tokens == len(want)
        # lossless roundtrip: ids → symbols → original words
        text = "".join(inv[i] for i in out[did].token_ids).replace(B.EOW, " ")
        assert text.strip() == " ".join(t.lower().split())


def test_bpe_greedy_rank_equals_sequential_replay():
    """The operator encodes by repeatedly applying the LOWEST-ranked
    applicable merge (fast form); the reference replays merges in
    order. Both must yield identical symbol sequences — the classic
    BPE equivalence."""
    merges = _ref_train(TEXTS, 40)
    ranks = {p: i for i, p in enumerate(merges)}
    for t in TEXTS:
        for w in t.lower().split():
            assert B._encode_word(w, ranks) == _ref_encode_word(w, merges)


def test_bpe_oov_and_empty(spark):
    docs = _docs(spark)
    model = B.bpe_train(docs, n_merges=20)
    extra = spark.createDataFrame(
        [(100, "the ♞♞♞ test"), (101, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in B.bpe_encode(extra, model).collect()}
    assert B.OOV_ID in out[100].token_ids  # ♞ not in the alphabet
    assert out[101].n_tokens == 0


def test_bpe_compresses_real_corpus(spark):
    """On the documents table the learned subwords must beat
    char-level encoding by a wide margin: tokens/char well under 1 and
    under the 0.6 a char+EOW baseline would give."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = B.bpe_train(docs, n_merges=256)
    enc = B.bpe_encode(docs, model)
    r = (
        enc.join(docs, "doc_id")
        .agg(
            (F.sum("n_tokens") / F.sum(F.length("text"))).alias("tpc"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()[0]
    )
    assert r.n == docs.count()
    assert 0.05 < r.tpc < 0.6, f"tokens/char {r.tpc}"


def test_bpe_train_is_memoized_and_deterministic(spark):
    src = "/root/testdata/sf0.001/documents.parquet"
    clear_memo()
    m1 = B.bpe_train(spark.read.parquet(src), n_merges=30)
    # fresh same-plan frame: parquet reads have a stable semanticHash
    m2 = B.bpe_train(spark.read.parquet(src), n_merges=30)
    assert m1 is m2, "same (corpus plan, params) must reuse the fit"
    m3 = B.bpe_train(spark.read.parquet(src), n_merges=31)
    assert m3 is not m1 and m3["merges"][:30] == m1["merges"]
    # local relations need no stable key — results still deterministic
    assert B.bpe_train(_docs(spark), n_merges=30) == B.bpe_train(
        _docs(spark), n_merges=30
    )


def test_bpe_decode_roundtrips_and_saves(spark, tmp_path):
    """decode(encode(text)) == the documented normalization for every
    in-alphabet doc; OOV ids surface as U+FFFD; out-of-vocab ids (the
    packing EOS) decode to nothing; the JSON artifact round-trips the
    model (VERDICT r7 item 5)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    model = B.bpe_train(docs, n_merges=128)
    enc = B.bpe_encode(docs, model)
    dec = {r.doc_id: r.text for r in B.bpe_decode(enc, model).collect()}
    for r in docs.collect():
        assert dec[r.doc_id] == " ".join(r.text.lower().split())

    # save/load parity: the loaded model encodes and decodes the same
    p = str(tmp_path / "tok" / "tokenizer.json")
    B.tokenizer_save(model, p, "bpe")
    algo, loaded = B.tokenizer_load(p)
    assert algo == "bpe"
    enc2 = {
        r.doc_id: list(r.token_ids)
        for r in B.bpe_encode(docs, loaded).collect()
    }
    assert enc2 == {
        r.doc_id: list(r.token_ids) for r in enc.collect()
    }
    assert B.bpe_vocab(loaded) == B.bpe_vocab(model)

    # OOV and EOS behavior, pinned
    eos = len(B.bpe_vocab(model))
    weird = spark.createDataFrame(
        [(1, [B.OOV_ID, eos]), (2, None)],
        "doc_id long, token_ids array<int>",
    )
    rows = {r.doc_id: r.text for r in B.bpe_decode(weird, model).collect()}
    assert rows == {1: "�"}  # OOV -> replacement char, EOS -> nothing

    import pytest

    with pytest.raises(ValueError, match="unknown tokenizer algo"):
        B.tokenizer_save(model, p, "wordpiece")
    bad = str(tmp_path / "bad.json")
    with open(bad, "w") as f:
        f.write('{"format": 9}')
    with pytest.raises(ValueError, match="unrecognized tokenizer"):
        B.tokenizer_load(bad)


def test_tokenizer_artifact_hadoop_scheme_roundtrip(spark, tmp_path):
    """Review r8: scheme-qualified artifact paths route through the
    Hadoop FS layer (file:// exercises it locally) — a remote out_dir
    must not crash the end of a tokenize run."""
    from solana_snapshot_etl_tools_spark.operators.bpe import (
        bpe_train,
        tokenizer_load,
        tokenizer_save,
    )

    docs = spark.createDataFrame(
        [(1, "ab ab abc"), (2, "abc abc ab")], "doc_id long, text string"
    )
    model = bpe_train(docs, n_merges=4)
    path = f"file://{tmp_path}/artifacts/tok.json"
    tokenizer_save(model, path, "bpe")
    algo, loaded = tokenizer_load(path)
    assert algo == "bpe"
    assert loaded.keys() == model.keys()
    # identical artifact through the Hadoop scheme and the local path
    local = f"{tmp_path}/tok_local.json"
    tokenizer_save(model, local, "bpe")
    assert tokenizer_load(local)[1] == loaded
