"""Unigram-LM subword tokenizer — the SentencePiece algorithm (Kudo,
"Subword Regularization: Improving Neural Network Translation Models
with Multiple Subword Candidates", ACL 2018 §3) next to the BPE
trainer in ``operators/bpe.py``: instead of greedy merges, fit a
unigram language model over a seeded candidate vocabulary with EM,
prune the least-useful pieces in rounds, and segment by Viterbi.
LLaMA-family tokenizers are this algorithm; the engine offers both so
a pipeline can reproduce either lineage.

Scale design IDENTICAL to BPE (and the ANN codebooks): training is
driver-side over the Spark-aggregated word-frequency table of a
bounded sample (only the distinct vocabulary is collected, never
text), memoized per (corpus plan, params); the artifact is a
kilobyte-to-megabyte piece table shipped by value into an
Arrow-batched distributed encode with per-worker word memoization
(Zipf → almost every word is a dict hit).

Simplifications vs the reference implementation, documented:
- seed vocabulary = the ``seed_factor * vocab_size`` most frequent
  substrings (count x length score) of the sampled words, not the
  ESA-based enumeration — same spirit, bounded cost;
- pruning drops the pieces with the lowest expected count (single
  characters are never dropped), ``shrink`` fraction kept per round,
  rather than the exact leave-one-out likelihood loss;
- E-step is full forward-backward (real expected counts, not
  Viterbi-hard EM); determinism comes from sorted iteration and
  lexicographic tie-breaks, as everywhere else in the engine.

Word boundaries use the SentencePiece convention: every word is
prefixed with the ``▁`` (U+2581) marker before segmentation, at train
and encode time alike, so pieces carry their word-initial position and
``unigram_decode`` can reconstruct spacing exactly (BPE marks the
boundary with a ``</w>`` suffix instead; both decode through the same
kernel). Round trip, pinned by test: ``decode(encode(text)) ==
" ".join(text.lower().split())`` when no character is OOV.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

from solana_snapshot_etl_tools_spark.operators.bpe import _word_freqs

OOV_ID = 0
OOV_PIECE = "<oov>"  # reserved sentinel; _seed_pieces rejects it as a piece
WORD_MARKER = "▁"  # ▁ — SentencePiece word-begin marker
_UNK_PENALTY = 16.0  # nats worse than the worst real piece

def _seed_pieces(
    word_freqs: dict[str, int], max_piece_len: int, seed_size: int
) -> tuple[list[str], dict[str, float]]:
    """(alphabet, seed piece -> raw count): every character plus the
    top multi-char substrings by count x length."""
    from collections import Counter

    subs: Counter = Counter()
    chars: Counter = Counter()
    for w, c in word_freqs.items():
        for ch in w:
            chars[ch] += c
        n = len(w)
        for i in range(n):
            top = min(max_piece_len, n - i)
            for L in range(2, top + 1):
                subs[w[i : i + L]] += c
    # the reserved OOV sentinel must never become a learned piece — a
    # corpus containing the literal substring "<oov>" would otherwise
    # seed a piece that unigram_vocab silently shadows onto id 0
    subs.pop(OOV_PIECE, None)
    ranked = sorted(
        subs.items(), key=lambda kv: (-kv[1] * len(kv[0]), kv[0])
    )[:seed_size]
    counts = {p: float(c) for p, c in ranked}
    for ch, c in chars.items():
        counts[ch] = float(c)
    return sorted(chars), counts


def _normalize(counts: dict[str, float]) -> dict[str, float]:
    total = sum(counts.values()) or 1.0
    floor = math.log(1e-12)
    return {
        p: (math.log(c / total) if c > 0 else floor)
        for p, c in counts.items()
    }


def _forward_backward(
    word: str, logp: dict[str, float], max_len: int
) -> tuple[float, dict[str, float]]:
    """Log-likelihood of ``word`` under the unigram model and the
    posterior expected count of every piece used in its lattice.
    Unknown characters cross via a penalized fallback edge (never
    counted as a piece)."""
    n = len(word)
    unk = min(logp.values(), default=0.0) - _UNK_PENALTY
    neg = float("-inf")
    alpha = [neg] * (n + 1)
    alpha[0] = 0.0
    edges: list[list[tuple[int, str | None, float]]] = [[] for _ in range(n + 1)]
    for i in range(n):
        if alpha[i] == neg:
            continue
        any_edge = False
        for L in range(1, min(max_len, n - i) + 1):
            piece = word[i : i + L]
            lp = logp.get(piece)
            if lp is None:
                continue
            any_edge = True
            edges[i + L].append((i, piece, lp))
            v = alpha[i] + lp
            a = alpha[i + L]
            alpha[i + L] = (
                v if a == neg else max(a, v) + math.log1p(math.exp(-abs(a - v)))
            )
        if not any_edge:
            # dead-end char: penalized single-char fallback
            edges[i + 1].append((i, None, unk))
            v = alpha[i] + unk
            a = alpha[i + 1]
            alpha[i + 1] = (
                v if a == neg else max(a, v) + math.log1p(math.exp(-abs(a - v)))
            )
    z = alpha[n]
    exp: dict[str, float] = {}
    if z == neg:
        return z, exp
    beta = [neg] * (n + 1)
    beta[n] = 0.0
    for j in range(n, -1, -1):
        for i, piece, lp in edges[j]:
            if beta[j] == neg:
                continue
            v = lp + beta[j]
            b = beta[i]
            beta[i] = (
                v if b == neg else max(b, v) + math.log1p(math.exp(-abs(b - v)))
            )
    for j in range(1, n + 1):
        for i, piece, lp in edges[j]:
            if piece is None or alpha[i] == neg or beta[j] == neg:
                continue
            exp[piece] = exp.get(piece, 0.0) + math.exp(
                alpha[i] + lp + beta[j] - z
            )
    return z, exp


def _lattice_edges(
    word: str, logp: dict[str, float], max_len: int
) -> list[list[tuple[int, str | None, float]]]:
    """Incoming edges per end-position: (start, piece|None, logp);
    None is the penalized unknown-char fallback, added only where no
    real piece leaves a position."""
    n = len(word)
    unk = min(logp.values(), default=0.0) - _UNK_PENALTY
    edges: list[list[tuple[int, str | None, float]]] = [[] for _ in range(n + 1)]
    for i in range(n):
        any_edge = False
        for L in range(1, min(max_len, n - i) + 1):
            lp = logp.get(word[i : i + L])
            if lp is not None:
                any_edge = True
                edges[i + L].append((i, word[i : i + L], lp))
        if not any_edge:
            edges[i + 1].append((i, None, unk))
    return edges


def _sample_segmentation(
    word: str,
    logp: dict[str, float],
    max_len: int,
    alpha: float,
    rng,
) -> list[str | None]:
    """Draw a segmentation with probability ∝ P(segmentation)^alpha —
    forward filtering / backward sampling over the lattice (Kudo 2018
    §4 subword regularization). ``alpha → ∞`` degenerates to Viterbi;
    small alpha flattens toward uniform over segmentations."""
    import math as _m

    n = len(word)
    neg = float("-inf")
    edges = _lattice_edges(word, logp, max_len)
    a = [neg] * (n + 1)
    a[0] = 0.0
    for j in range(1, n + 1):
        for i, _piece, lp in edges[j]:
            if a[i] == neg:
                continue
            v = a[i] + alpha * lp
            a[j] = (
                v if a[j] == neg else max(a[j], v) + _m.log1p(_m.exp(-abs(a[j] - v)))
            )
    out: list[str | None] = []
    j = n
    while j > 0:
        opts = [(i, p, lp) for i, p, lp in edges[j] if a[i] != neg]
        ws = [_m.exp(a[i] + alpha * lp - a[j]) for i, _p, lp in opts]
        r = rng.random() * sum(ws)
        acc = 0.0
        pick = opts[-1]
        for o, w in zip(opts, ws):
            acc += w
            if r <= acc:
                pick = o
                break
        out.append(pick[1])
        j = pick[0]
    out.reverse()
    return out


def _viterbi(word: str, logp: dict[str, float], max_len: int) -> list[str | None]:
    """Best segmentation (None marks an unknown-char fallback);
    deterministic: ties resolve last-writer-wins under the fixed
    scan order (start positions ascending, then piece length
    ascending with ``>=``) — i.e. among equal-score paths the one
    whose last piece starts LATEST (the shortest last piece) is
    kept. Output is stable across runs/partitionings either way."""
    n = len(word)
    unk = min(logp.values(), default=0.0) - _UNK_PENALTY
    neg = float("-inf")
    best = [neg] * (n + 1)
    back: list[tuple[int, str | None]] = [(-1, None)] * (n + 1)
    best[0] = 0.0
    for i in range(n):
        if best[i] == neg:
            continue
        any_edge = False
        for L in range(1, min(max_len, n - i) + 1):
            piece = word[i : i + L]
            lp = logp.get(piece)
            if lp is None:
                continue
            any_edge = True
            v = best[i] + lp
            if v >= best[i + L]:
                best[i + L] = v
                back[i + L] = (i, piece)
        if not any_edge and best[i] + unk >= best[i + 1]:
            best[i + 1] = best[i] + unk
            back[i + 1] = (i, None)
    out: list[str | None] = []
    j = n
    while j > 0:
        i, piece = back[j]
        if i < 0:  # unreachable tail (shouldn't happen with fallback)
            out.append(None)
            j -= 1
            continue
        out.append(piece)
        j = i
    out.reverse()
    return out


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    vocab_size: int = 512,
    train_limit: int = 100_000,
    max_piece_len: int = 8,
    em_iters: int = 2,
    seed_factor: int = 4,
    shrink: float = 0.75,
) -> dict:
    """Fit the unigram model on a bounded sample. Returns
    ``{"pieces": {piece: logp}, "alphabet": sorted chars,
    "max_piece_len": int}``; memoized per (corpus plan, params) in the
    session memo."""
    from solana_snapshot_etl_tools_spark.session import memo, plan_key

    if vocab_size < 2:
        raise ValueError(f"vocab_size must be >= 2, got {vocab_size}")
    if not 0.0 < shrink < 1.0:
        raise ValueError(f"shrink must be in (0, 1), got {shrink}")
    params = (
        text_col, vocab_size, train_limit, max_piece_len, em_iters,
        seed_factor, shrink,
    )
    return memo(
        "unigram",
        (plan_key(docs.select(text_col)), *params),
        lambda: _unigram_fit(docs, *params),
    )


def _unigram_fit(
    docs: DataFrame,
    text_col: str,
    vocab_size: int,
    train_limit: int,
    max_piece_len: int,
    em_iters: int,
    seed_factor: int,
    shrink: float,
) -> dict:
    # SentencePiece convention: the word-begin marker is part of the
    # word the model is fit on, so word-initial pieces are learned
    # distinctly and decode can restore spacing
    wf = {
        WORD_MARKER + w: c
        for w, c in _word_freqs(docs, text_col, train_limit).items()
    }
    alphabet, counts = _seed_pieces(
        wf, max_piece_len, seed_factor * vocab_size
    )
    chars = set(alphabet)
    logp = _normalize(counts)

    def em_rounds(logp: dict[str, float], iters: int) -> dict[str, float]:
        for _ in range(iters):
            exp: dict[str, float] = {}
            for w in sorted(wf):
                _, e = _forward_backward(w, logp, max_piece_len)
                fw = wf[w]
                for p, c in e.items():
                    exp[p] = exp.get(p, 0.0) + fw * c
            # characters are structural: never let them vanish
            for ch in chars:
                exp[ch] = exp.get(ch, 0.0) + 1e-6
            logp = _normalize(exp)
        return logp

    while True:
        logp = em_rounds(logp, em_iters)
        n_multi = sum(1 for p in logp if len(p) > 1)
        target_total = max(vocab_size, len(chars))
        if len(logp) <= target_total:
            break
        # prune multi-char pieces with the lowest expected mass
        keep_multi = max(
            target_total - len(chars), int(n_multi * shrink)
        )
        if keep_multi >= n_multi:
            keep_multi = max(target_total - len(chars), 0)
        multi = sorted(
            ((p, lp) for p, lp in logp.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )
        kept = {p: lp for p, lp in multi[:keep_multi]}
        kept.update({p: lp for p, lp in logp.items() if len(p) == 1})
        logp = _normalize({p: math.exp(lp) for p, lp in kept.items()})
    return {
        "pieces": logp,
        "alphabet": alphabet,
        "max_piece_len": max_piece_len,
    }


def unigram_vocab(model: dict) -> dict[str, int]:
    """id table: 0 is OOV, then every piece in sorted order —
    deterministic, like ``bpe_vocab``."""
    vocab = {OOV_PIECE: OOV_ID}
    if OOV_PIECE in model["pieces"]:
        raise ValueError(
            "model contains a piece equal to the reserved OOV sentinel "
            f"{OOV_PIECE!r} — retrain with the current _seed_pieces"
        )
    for p in sorted(model["pieces"]):
        vocab.setdefault(p, len(vocab))
    return vocab


def unigram_encode(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    sample_alpha: float | None = None,
    seed: int = 0,
) -> DataFrame:
    """Distributed Viterbi encode: (id, token_ids, n_tokens) — the
    exact output contract of ``bpe_encode``, so the packing and shard
    stages downstream are tokenizer-agnostic.

    ``sample_alpha`` turns on SUBWORD REGULARIZATION (Kudo 2018 §4):
    each word OCCURRENCE is segmented by a draw ∝ P(seg)^alpha
    (forward-filter / backward-sample) instead of the Viterbi best —
    the training-time augmentation that makes models robust to
    segmentation ambiguity. Deterministic: one RNG per document,
    seeded from (doc id, seed), so re-encoding reproduces the same
    ids regardless of partitioning; per-occurrence sampling cannot
    use the word memo (documented cost — use it for training epochs,
    Viterbi for eval/serving)."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    pieces = dict(model["pieces"])
    max_len = model["max_piece_len"]
    vocab = unigram_vocab(model)
    id_type = docs.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField(id_col, id_type),
            StructField("token_ids", ArrayType(IntegerType())),
            StructField("n_tokens", LongType()),
        ]
    )

    def gen(batches):
        import random

        import pandas as pd

        word_memo: dict[str, list[int]] = {}

        def viterbi_ids(word: str) -> list[int]:
            got = word_memo.get(word)
            if got is None:
                got = [
                    OOV_ID if s is None else vocab.get(s, OOV_ID)
                    for s in _viterbi(word, pieces, max_len)
                ]
                word_memo[word] = got
            return got

        for pdf in batches:
            out_ids, out_n, out_id = [], [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                toks: list[int] = []
                if sample_alpha is None:
                    for w in txt.lower().split():
                        toks.extend(viterbi_ids(WORD_MARKER + w))
                else:
                    rng = random.Random(f"{did}:{seed}")
                    for w in txt.lower().split():
                        toks.extend(
                            OOV_ID if s is None else vocab.get(s, OOV_ID)
                            for s in _sample_segmentation(
                                WORD_MARKER + w, pieces, max_len,
                                sample_alpha, rng,
                            )
                        )
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


def unigram_decode(
    enc: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    tokens_col: str = "token_ids",
) -> DataFrame:
    """Inverse of :func:`unigram_encode` up to its documented
    normalization: pieces join, ``▁`` markers become spaces —
    ``decode(encode(text)) == " ".join(text.lower().split())`` when no
    character is OOV (pinned by test; holds for Viterbi AND sampled
    segmentations, which differ only in piece boundaries). OOV ids
    decode to U+FFFD; ids past the vocab (the packing EOS) decode to
    nothing."""
    from solana_snapshot_etl_tools_spark.operators.bpe import _decode_tokens

    vocab = unigram_vocab(model)
    symbols = [""] * len(vocab)
    for s, i in vocab.items():
        symbols[i] = s
    symbols[OOV_ID] = "�"
    return _decode_tokens(enc, symbols, WORD_MARKER, id_col, tokens_col)


# the encode closure references module functions (_viterbi) — ship
# the module by value so workers never need this repo on their
# sys.path (see _pickle.py)
from solana_snapshot_etl_tools_spark._pickle import register_self as _rs  # noqa: E402

_rs(__name__)
