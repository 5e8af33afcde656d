"""Byte-pair-encoding tokenizer: train on a bounded corpus sample,
encode the full corpus distributed.

The classic subword algorithm (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units"): starting from
characters, repeatedly merge the most frequent adjacent symbol pair
until the merge budget is spent; encoding replays the learned merges
in rank order. This is the real tokenizer behind most pretraining
pipelines — ``functions/text.py`` keeps the cheap regex proxies for
filtering; this module produces actual token ids and counts.

Scale design (the same split every trained operator here uses — cf.
the IVF/PQ codebooks in ``operators/similarity.py``):
- TRAINING is driver-side over a bounded sample (``train_limit``
  docs): pair statistics are corpus-Zipfian, so a bounded sample fixes
  the merge table; the fit is memoized per (corpus plan, params) and
  the artifact is a kilobyte-scale merge list — the legitimate
  broadcast shape.
- ENCODING is an Arrow-batched ``mapInPandas`` over the full corpus
  with the merge table shipped by value. Word-level memoization makes
  the hot path O(distinct words): corpus word frequencies are Zipfian,
  so almost every token lookup is a dict hit, not a merge replay.
- Determinism: ties in pair frequency break lexicographically, word
  iteration order is sorted, so the merge table is a pure function of
  (sample, vocab budget) — stable across runs, partitionings and
  cluster sizes, like the deterministic split/sampler hashes.

Words are whitespace-pretokenized (``functions/text.py:tokens``
semantics) with a ``</w>`` end-of-word sentinel so merges cannot cross
word boundaries; unknown characters at encode time fall back to a
single OOV id. A pure-Python naive reference in ``tests/test_bpe.py``
pins both training and encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EOW = "</w>"
OOV_ID = 0

def _word_freqs(docs: DataFrame, text_col: str, train_limit: int) -> dict[str, int]:
    """Driver-side word-frequency table of a bounded sample. The
    sample is `limit(train_limit)` docs (deterministic enough for a
    fit artifact — same contract as the ANN training sample); the
    aggregation to (word, count) happens IN Spark so only the distinct
    vocabulary is collected, not the text."""
    from solana_snapshot_etl_tools_spark.functions.text import tokens

    rows = (
        docs.select(text_col)
        .limit(train_limit)
        .select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    return {r.w: r.c for r in rows}


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 512,
    train_limit: int = 100_000,
) -> dict:
    """Learn ``n_merges`` BPE merges from a bounded sample of
    ``docs``. Returns the model: ``{"merges": ranked pair list,
    "alphabet": sorted sample character set}`` (the alphabet keeps
    rare unmerged characters out of OOV). Memoized per (corpus plan,
    params) in the session memo."""
    from solana_snapshot_etl_tools_spark.session import memo, plan_key

    return memo(
        "merges",
        (plan_key(docs), text_col, n_merges, train_limit),
        lambda: _bpe_fit(docs, text_col, n_merges, train_limit),
    )


def _bpe_fit(docs: DataFrame, text_col: str, n_merges: int, train_limit: int) -> dict:
    freqs = _word_freqs(docs, text_col, train_limit)
    alphabet = sorted({c for w in freqs for c in w})
    # symbol sequences per distinct word, weighted by frequency
    words: list[tuple[list[str], int]] = [
        (list(w) + [EOW], c) for w, c in sorted(freqs.items())
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for sym, c in words:
            for a, b in zip(sym, sym[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
        if not pair_counts:
            break
        # most frequent pair; lexicographic tiebreak for determinism
        best = max(pair_counts.items(), key=lambda kv: (kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _c = best
        merges.append((a, b))
        ab = a + b
        for sym, _ in words:
            i = 0
            while i < len(sym) - 1:
                if sym[i] == a and sym[i + 1] == b:
                    sym[i : i + 2] = [ab]
                else:
                    i += 1
    return {"merges": merges, "alphabet": alphabet}


def bpe_vocab(model: dict) -> dict[str, int]:
    """id table: 0 is OOV, then the training alphabet (+ the
    end-of-word sentinel), then every merged symbol in rank order —
    deterministic."""
    vocab = {"<oov>": OOV_ID}
    for c in [*model["alphabet"], EOW]:
        vocab.setdefault(c, len(vocab))
    for a, b in model["merges"]:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def _decode_tokens(
    enc: DataFrame,
    symbols: list[str],
    sentinel: str,
    id_col: str,
    tokens_col: str,
) -> DataFrame:
    """Shared decode kernel for both tokenizers: map ids back to their
    symbol strings (shipped by value — the same kilobyte broadcast
    shape as the encode closures), join, and turn the word-boundary
    ``sentinel`` into spaces. Ids outside the vocab (e.g. the packing
    EOS, one past the vocab by contract) decode to nothing; OOV is
    ``symbols[0]`` (the callers set U+FFFD). Narrow Arrow-batched
    ``mapInPandas`` — no shuffle, the exact inverse shape of encode."""
    from pyspark.sql.types import StringType, StructField, StructType

    id_type = enc.schema[id_col].dataType
    out_schema = StructType(
        [StructField(id_col, id_type), StructField("text", StringType())]
    )
    n_sym = len(symbols)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids_out, txt_out = [], []
            for did, ids in zip(pdf[id_col], pdf[tokens_col]):
                if ids is None:
                    continue
                s = "".join(
                    symbols[t] if 0 <= t < n_sym else "" for t in ids
                )
                ids_out.append(did)
                txt_out.append(s.replace(sentinel, " ").strip())
            yield pd.DataFrame({id_col: ids_out, "text": txt_out})

    return enc.select(id_col, tokens_col).mapInPandas(gen, out_schema)


def bpe_decode(
    enc: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    tokens_col: str = "token_ids",
) -> DataFrame:
    """Inverse of :func:`bpe_encode` up to its documented
    normalization: ``decode(encode(text)) == " ".join(text.lower()
    .split())`` for any text whose characters are all in the training
    alphabet (pinned by test). OOV ids decode to U+FFFD; ids past the
    vocab (the packing EOS) decode to nothing. Caveat, as in every
    plain-text BPE: a corpus whose literal text builds the ``</w>``
    sentinel string out of real characters via merges would alias a
    word boundary at decode time — byte-level escaping is the known
    fix if a real corpus ever hits it."""
    vocab = bpe_vocab(model)
    symbols = [""] * len(vocab)
    for s, i in vocab.items():
        symbols[i] = s
    symbols[OOV_ID] = "�"
    return _decode_tokens(enc, symbols, EOW, id_col, tokens_col)


def _hadoop_fs(path: str):
    """(jvm Path, FileSystem) for a scheme-qualified path, via the
    active session's Hadoop configuration."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError(
            f"writing/reading {path!r} needs an active SparkSession "
            "(its Hadoop FS layer resolves the scheme)"
        )
    jp = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jp, jp.getFileSystem(spark._jsc.hadoopConfiguration())


def tokenizer_save(model: dict, path: str, algo: str) -> None:
    """Persist a trained subword tokenizer (``bpe_train`` or
    ``unigram_train`` output) as one JSON file — the artifact a
    training job needs alongside the packed shards (ids are useless
    without the vocab that produced them). Models are kilobyte-scale
    driver dicts; scheme-qualified paths (``s3://``, ``hdfs://``,
    ``file://``) route through the Hadoop FS layer so the artifact
    lands NEXT TO the shards it describes (every other artifact of a
    CLI run already does), bare paths write locally."""
    import json
    import os

    if algo not in ("bpe", "unigram"):
        raise ValueError(f"unknown tokenizer algo {algo!r}")
    data = json.dumps({"format": 1, "algo": algo, "model": model})
    if "://" in path:
        jp, fs = _hadoop_fs(path)
        out = fs.create(jp, True)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        return
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(data)


def tokenizer_load(path: str) -> tuple[str, dict]:
    """Load a :func:`tokenizer_save` artifact → ``(algo, model)``.
    The model dict is interchangeable with a fresh fit (JSON turns
    BPE's merge tuples into lists; every consumer iterates pairs, so
    the shapes are equivalent — pinned by save/load parity tests).
    Scheme-qualified paths read through the Hadoop FS layer like
    :func:`tokenizer_save` writes."""
    import json

    if "://" in path:
        jp, fs = _hadoop_fs(path)
        stream = fs.open(jp)
        try:
            # InputStream.readAllBytes (Java 9+) — py4j copies byte[]
            # results to Python bytes; reading INTO a passed buffer
            # would not write back across the bridge
            blob = json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
        finally:
            stream.close()
    else:
        with open(path, encoding="utf-8") as f:
            blob = json.load(f)
    if blob.get("format") != 1 or blob.get("algo") not in ("bpe", "unigram"):
        raise ValueError(f"unrecognized tokenizer artifact at {path}: "
                         f"format={blob.get('format')} algo={blob.get('algo')}")
    return blob["algo"], blob["model"]


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    sym = list(word) + [EOW]
    while len(sym) > 1:
        best_rank, best_i = None, None
        for i, (a, b) in enumerate(zip(sym, sym[1:])):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        sym[best_i : best_i + 2] = [sym[best_i] + sym[best_i + 1]]
    return sym


def bpe_encode(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distributed encode: (id, token_ids, n_tokens). The merge table
    and vocab ship by value in the closure (kilobytes); each Arrow
    batch re-tokenizes only words it has not seen before (per-worker
    memo dict — Zipfian corpora hit it almost always)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    ranks = {tuple(pair): i for i, pair in enumerate(model["merges"])}
    vocab = bpe_vocab(model)
    id_type = docs.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("token_ids", ArrayType(IntegerType())),
            StructField("n_tokens", LongType()),
        ]
    )

    def gen(batches):
        import pandas as pd

        word_memo: dict[str, list[int]] = {}

        def ids_for(word: str) -> list[int]:
            got = word_memo.get(word)
            if got is None:
                got = [vocab.get(s, OOV_ID) for s in _encode_word(word, ranks)]
                word_memo[word] = got
            return got

        for pdf in batches:
            out_ids, out_n, out_id = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                toks: list[int] = []
                for w in txt.lower().split():
                    toks.extend(ids_for(w))
                out_id.append(did)
                out_ids.append(toks)
                out_n.append(len(toks))
            yield pd.DataFrame(
                {id_col: out_id, "token_ids": out_ids, "n_tokens": out_n}
            )

    from solana_snapshot_etl_tools_spark.operators.dedup import spread_small_input

    return spread_small_input(docs.select(id_col, text_col)).mapInPandas(
        gen, out_schema
    )


# the encode closure references module functions (_encode_word) —
# ship the module by value so workers never need this repo on their
# sys.path (see _pickle.py)
from solana_snapshot_etl_tools_spark._pickle import register_self as _rs  # noqa: E402

_rs(__name__)
