"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169).

The published recipe for choosing pretraining data that LOOKS LIKE a
target distribution without training a classifier: featurize every
document as a bag of hashed word uni+bigrams, fit two bag-of-ngrams
generative models — one on the target corpus, one on the raw pool —
and score each raw document with the log importance weight

    log w(x) = sum_f  c_x(f) * [ log p_target(f) - log p_raw(f) ]

(c_x = the document's feature counts, both distributions add-alpha
smoothed). Selection then resamples the pool with probability
proportional to w — implemented here as seeded Gumbel-top-k, the
standard equivalence (add Gumbel noise to each log weight, keep the
k largest; Vieira 2014).

Spark-first shape (everything JVM column expressions, no UDF):

- featurization is one narrow explode of the token array plus its
  bigrams, pre-aggregated per (doc, feature) before any join;
- each distribution is one partial-agg groupBy; the two meet in ONE
  tiny full-outer join keyed by feature — with the paper's hashed
  buckets (default 10k) that log-ratio table is bucket-count-sized
  and BROADCAST, so scoring the 100 TB pool is a map-side join plus
  one partial-agg sum per document. The pool never moves;
- ``n_buckets=None`` keeps raw gram strings as feature keys — the
  engine-independent spelling the DuckDB differential test checks
  (the table is then vocabulary-sized and the join stays distributed);
- top-k never global-sorts: the quantized score reuses
  ``domains.source_cap``'s boundary-bucket rank (pigeonhole finds the
  k-th score's bucket from per-bucket counts; only that ~1/2^bits
  sliver is window-ranked).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from solana_snapshot_etl_tools_spark.functions import text as TXT
from solana_snapshot_etl_tools_spark.session import cache_for_session

# the paper's featurization: word unigrams + bigrams hashed to 10k
# buckets
N_BUCKETS_DEFAULT = 10_000

# quantization step for the rank key handed to source_cap (integral
# contract): 2^-30 granularity — far beyond the noise floor of the
# weights themselves — while leaving ~2^33 of magnitude headroom (a
# log weight scales with document length; even a 10^8-gram document
# stays orders of magnitude inside it). The cast clamps first: an
# ANSI session must never throw on a pathological score
_QUANT_BITS = 30
_QUANT_CLAMP = float((1 << 62))


def _doc_features(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int | None,
    salt: str,
) -> DataFrame:
    """(id, feat, cnt): per-document COUNTS of word uni+bigrams —
    lowercased whitespace tokens, empty tokens dropped. ``n_buckets``
    hashes features onto long buckets (the paper's spelling);
    ``None`` keeps gram strings (oracle-able). One narrow explode,
    pre-aggregated before anything joins it."""
    toks = F.filter(TXT.tokens(F.col(text_col)), lambda t: F.length(t) > 0)
    # bigrams via zip_with over two slices — each slice evaluates the
    # token expression ONCE per row. An element_at(toks, i) lambda
    # would re-run the whole lower+split+filter chain per POSITION
    # (O(tokens^2) per document — measured 10s vs 1s at sf0.1, the
    # same trap chunk_cdc hit with per-position substring)
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    big = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    grams = F.concat(toks, big)
    out = df.select(id_col, F.explode(grams).alias("feat"))
    if n_buckets is not None:
        out = out.select(
            id_col,
            F.pmod(F.xxhash64("feat", F.lit(salt)), F.lit(n_buckets)).alias(
                "feat"
            ),
        )
    return out.groupBy(id_col, "feat").agg(F.count(F.lit(1)).alias("cnt"))


def _log_ratio_table(
    target_feats: DataFrame,
    raw_feats: DataFrame,
    n_buckets: int | None,
    alpha: float,
):
    """One row per feature: ``log p_target(feat) - log p_raw(feat)``
    under add-alpha smoothing. Returns (table, B) where B is the
    smoothing support size — the bucket count when hashing, the union
    vocabulary size in gram mode."""
    t = target_feats.groupBy("feat").agg(F.sum("cnt").alias("_ct"))
    r = raw_feats.groupBy("feat").agg(F.sum("cnt").alias("_cr"))
    joined = t.join(r, "feat", "full_outer").select(
        "feat",
        F.coalesce("_ct", F.lit(0)).alias("_ct"),
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
    )
    if n_buckets is None:
        # gram mode: the smoothing support is the observed union
        # vocabulary (every raw gram is in the table by construction)
        stats = joined.agg(
            F.count(F.lit(1)), F.sum("_ct"), F.sum("_cr")
        ).collect()[0]
        b, nt, nr = int(stats[0]), int(stats[1] or 0), int(stats[2] or 0)
    else:
        b = n_buckets
        stats = joined.agg(F.sum("_ct"), F.sum("_cr")).collect()[0]
        nt, nr = int(stats[0] or 0), int(stats[1] or 0)
    if nt == 0:
        raise ValueError("DSIR target corpus has no tokens")
    if nr == 0:
        raise ValueError("DSIR raw pool has no tokens")
    log_zt = math.log(nt + alpha * b)
    log_zr = math.log(nr + alpha * b)
    table = joined.select(
        "feat",
        (
            F.log(F.col("_ct") + F.lit(alpha))
            - F.lit(log_zt)
            - F.log(F.col("_cr") + F.lit(alpha))
            + F.lit(log_zr)
        ).alias("_lr"),
    )
    return table, b


def dsir_fit(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = N_BUCKETS_DEFAULT,
    alpha: float = 0.1,
    salt: str = "dsir",
) -> dict:
    """Fit the importance model: the per-feature log-ratio table plus
    the featurization parameters. The returned dict feeds
    :func:`dsir_score` / :func:`dsir_top_k` and persists via
    :func:`dsir_save` — the train-once/apply-many posture the LM and
    quality-model filters follow. Scoring a LATER crawl against a
    saved table uses the FIT-TIME raw distribution as the denominator
    (the standard posture; refit when the pool drifts)."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    # cache both feature frames: each has two plan consumers here
    # (the normalizer-stats aggregate and the ratio table), and the
    # raw side is reused by dsir_score's identical-plan cache hit
    # when scoring the fit pool itself. Freed by
    # session.release_session_caches(); the cached frames are
    # (id, feat, cnt) triples, a fraction of the text
    raw_feats = cache_for_session(
        _doc_features(raw, id_col, text_col, n_buckets, salt)
    )
    tgt_feats = cache_for_session(
        _doc_features(target, id_col, text_col, n_buckets, salt)
    )
    table, _ = _log_ratio_table(tgt_feats, raw_feats, n_buckets, alpha)
    return {"table": table, "n_buckets": n_buckets, "salt": salt}


def dsir_score(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, log_weight) for every document with at least one token; a
    document with no tokens has no features and therefore no row (its
    weight is the empty product — callers treat it as
    log 0-information, see :func:`dsir_top_k`).

    With the default hashed buckets the log-ratio table is B rows and
    broadcast — scoring is scan → map-side join → one partial-agg
    sum, zero pool shuffle beyond the per-(doc, feat) combine.
    Features the table never saw (possible when scoring a new crawl
    against a saved model) carry no evidence and drop out of the
    sum."""
    feats = _doc_features(
        docs, id_col, text_col, model["n_buckets"], model["salt"]
    )
    table = model["table"]
    if model["n_buckets"] is not None:
        table = F.broadcast(table)
    return (
        feats.join(table, "feat")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("_lr")).alias("log_weight"))
    )


def dsir_save(model: dict, path: str) -> None:
    """Persist a fitted model — the log-ratio table as parquet (the
    distributed frame never funnels through the driver) plus a
    one-row JSON meta. Both writes go through the Hadoop FS layer, so
    ``path`` may be local, HDFS, or S3. Gram mode (``n_buckets is
    None``) stores the sentinel -1."""
    table = model["table"]
    table.write.mode("overwrite").parquet(f"{path}/table")
    spark = table.sparkSession
    nb = -1 if model["n_buckets"] is None else int(model["n_buckets"])
    spark.createDataFrame(
        [(1, nb, str(model["salt"]))],
        "format int, n_buckets int, salt string",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def dsir_load(spark, path: str) -> dict:
    """Load a model persisted by :func:`dsir_save` — interchangeable
    with a fresh :func:`dsir_fit` result (pinned by test)."""
    rows = spark.read.json(f"{path}/meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"corrupt DSIR meta at {path}/meta: expected 1 row, got "
            f"{len(rows)}"
        )
    meta = rows[0].asDict()
    if meta.get("format") != 1 or "n_buckets" not in meta or "salt" not in meta:
        raise ValueError(f"unrecognized DSIR meta at {path}/meta: {meta}")
    nb = int(meta["n_buckets"])
    return {
        "table": spark.read.parquet(f"{path}/table"),
        "n_buckets": None if nb < 0 else nb,
        "salt": meta["salt"],
    }


def dsir_log_weights(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = N_BUCKETS_DEFAULT,
    alpha: float = 0.1,
    salt: str = "dsir",
) -> DataFrame:
    """Fit on (raw, target) and score ``raw`` in one call — the
    one-shot spelling (see :func:`dsir_fit` / :func:`dsir_score`)."""
    model = dsir_fit(raw, target, id_col, text_col, n_buckets, alpha, salt)
    return dsir_score(raw, model, id_col, text_col)


def dsir_top_k(
    raw: DataFrame,
    target: DataFrame | None,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = N_BUCKETS_DEFAULT,
    alpha: float = 0.1,
    gumbel: bool = True,
    seed: str = "dsir-gumbel",
    model: dict | None = None,
) -> DataFrame:
    """The selection step: keep exactly ``min(k, |raw|)`` documents.
    With ``gumbel=True`` (the paper's resampling semantics) each
    document's score is ``log_weight + Gumbel(0,1)`` with the noise
    drawn deterministically from ``xxhash64(id, seed)`` — Gumbel-top-k
    IS sampling without replacement proportionally to the weights, and
    the seeded noise makes the draw reproducible and append-stable.
    ``gumbel=False`` keeps the top-k by weight outright (deterministic
    hard selection). Ties break by id.

    Documents with no tokens score ``-inf``-like (NULL rank, ranks
    last): they are chosen only when fewer than k scorable documents
    exist.

    No global sort, and the weight pipeline runs ONCE: the ranking
    happens over a cached NARROW (id, rank) frame — ``source_cap``'s
    boundary-bucket machinery reads that frame three times (bucket
    counts, keep-whole, edge rank), which must not re-execute the
    explode/join weight computation, and document text must never
    enter the ranking plan at all. The selected ids then semi-join
    back to ``raw`` in one pass."""
    from solana_snapshot_etl_tools_spark.operators.domains import source_cap

    if k < 1:
        raise ValueError(f"dsir_top_k needs k >= 1, got {k}")
    if (target is None) == (model is None):
        raise ValueError(
            "dsir_top_k takes exactly one of target (fresh fit) or "
            "model (a dsir_fit/dsir_load result)"
        )
    if model is None:
        model = dsir_fit(raw, target, id_col, text_col, n_buckets, alpha)
    w = dsir_score(raw, model, id_col, text_col)
    score = F.col("log_weight")
    if gumbel:
        # u in (0,1) from the id hash (never exactly 0/1: offset half
        # a step), g = -log(-log(u)) ~ Gumbel(0,1)
        m = F.lit(float(1 << 40))
        u = (
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 40))
            + F.lit(0.5)
        ) / m
        score = score + (-F.log(-F.log(u)))
    # least/greatest SKIP nulls — guard first, or a tokenless doc's
    # NULL score would clamp to +2^62 and rank FIRST instead of last
    q = F.when(
        score.isNotNull(),
        F.round(
            F.greatest(
                F.least(score * F.lit(float(1 << _QUANT_BITS)),
                        F.lit(_QUANT_CLAMP)),
                F.lit(-_QUANT_CLAMP),
            )
        ).cast("long"),
    )
    # min wins in source_cap's order_by: negate; tokenless docs (left
    # join -> NULL weight -> NULL rank) rank LAST via the order_by
    # NULL contract. Cached: ~16 bytes/row, freed by
    # session.release_session_caches()
    narrow = cache_for_session(
        raw.select(id_col)
        .join(w, id_col, "left")
        .select(id_col, (-q).alias("_neg_q"), F.lit("all").alias("_one"))
    )
    kept_ids = source_cap(
        narrow, k, source_col="_one", id_col=id_col,
        order_by=F.col("_neg_q"),
    ).select(id_col)
    return raw.join(kept_ids, id_col, "left_semi")


def _calibrate(w: DataFrame, n_expected: int, max_iter: int):
    """The scale c solving ``E(c) = sum(min(1, c*w)) = n_expected``
    over the (id, _w) frame, or None when the ask is infeasible
    (n_expected >= scorable pool / zero weight mass). E(c) is monotone
    and piecewise linear in c, so the fixed point ``c = (n_expected -
    n_clamped) / sum(w unclamped)`` is bracketed as it runs: every
    probe with E below the ask raises the lower bound, every probe
    above lowers the upper, and a fixed-point step that would leave
    the bracket (very peaked weight mass, where the clamp set alone
    exceeds the ask and the naive step is undefined or oscillates)
    falls back to bisection inside it — the expected keep count can
    no longer silently exceed the requested N. One aggregate over the
    cached narrow frame per step either way; ``max_iter`` bounds the
    fixed-point phase and the bisection fallback gets enough extra
    steps to converge to ~1e-9 relative."""
    row = w.agg(F.count(F.lit(1)), F.sum("_w")).collect()[0]
    n_scorable, total_w = int(row[0]), float(row[1] or 0.0)
    if n_scorable <= n_expected or total_w <= 0:
        return None
    # min(1, c0*w) <= c0*w, so E(c0) <= n_expected: a sure lower bound
    lo, hi = n_expected / total_w, None
    c = lo
    for _ in range(max(max_iter, 48)):
        stats = w.agg(
            F.sum(F.when(F.col("_w") * c >= 1.0, 1).otherwise(0)),
            F.sum(F.when(F.col("_w") * c < 1.0, F.col("_w"))),
        ).collect()[0]
        n_clamped, mass = int(stats[0] or 0), float(stats[1] or 0.0)
        e = n_clamped + c * mass
        if abs(e - n_expected) <= 1e-9 * n_expected:
            return c
        if e < n_expected:
            lo = max(lo, c)
        else:
            hi = c if hi is None else min(hi, c)
        if hi is not None and hi - lo <= 1e-12 * hi:
            return lo  # bracket exhausted at float precision: the
            # under-side endpoint keeps E <= the ask
        nxt = (
            (n_expected - n_clamped) / mass
            if mass > 0.0 and n_clamped < n_expected
            else None
        )
        if nxt is None or nxt <= lo or (hi is not None and nxt >= hi):
            # peaked case: bisect (or double while no upper bound yet)
            nxt = (lo + hi) / 2.0 if hi is not None else c * 2.0
        c = nxt
    return c


def dsir_scale(
    raw: DataFrame,
    model: dict,
    n_expected: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 8,
) -> float:
    """Calibrate the :func:`dsir_sample` scale ONCE on a reference
    pool (typically the fit pool) and reuse it with
    ``dsir_sample(..., scale=c)`` on later arrivals — the
    append-stable streaming posture: a fixed (model, scale) pair makes
    every per-row decision depend only on (id, weight). Returns the
    keep-everything degenerate as ``float('inf')`` when ``n_expected``
    covers the whole scorable pool."""
    if n_expected < 1:
        raise ValueError(f"dsir_scale needs n_expected >= 1, got {n_expected}")
    w = cache_for_session(
        dsir_score(raw, model, id_col, text_col).select(
            id_col, F.exp(F.col("log_weight")).alias("_w")
        )
    )
    c = _calibrate(w, n_expected, max_iter)
    return float("inf") if c is None else float(c)


def dsir_sample(
    raw: DataFrame,
    target: DataFrame | None,
    n_expected: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = N_BUCKETS_DEFAULT,
    alpha: float = 0.1,
    seed: str = "dsir-sample",
    model: dict | None = None,
    max_iter: int = 8,
    scale: float | None = None,
) -> DataFrame:
    """Bernoulli selection proportional to the importance weight —
    the cheaper complement of :func:`dsir_top_k`: each document keeps
    independently with probability ``min(1, c·w_i)``, at the cost of
    a ~sqrt(n) binomial spread around ``n_expected`` instead of an
    exact count.

    By default ``c`` is CALIBRATED TO THIS POOL so the expected keep
    count equals ``n_expected`` even where the probability clamps at
    1 (very target-like docs): the fixed point ``c = (n_expected -
    n_clamped) / sum(w_i unclamped)`` converges in a few steps
    because each step only moves documents across the clamp boundary
    monotonically — each iteration is ONE aggregate over the cached
    (id, weight) frame, never a sort. Per-pool calibration makes the
    draw append-UNSTABLE (growing the pool shrinks c and can flip
    prior keeps — the ``stratified_split`` caveat). For append-STABLE
    streaming use, pass an explicit ``scale`` (e.g. calibrated once
    on the fit pool and reused with a held-fixed ``model``): the
    per-row rule then depends only on (id, weight, scale) and new
    documents never flip old decisions — the hash-acceptance contract
    the sampler family shares. ``n_expected`` is ignored when
    ``scale`` is given.

    Infeasible asks (``n_expected`` >= scorable pool, or zero weight
    mass) keep every scorable document. A weight mass peaked enough
    that the naive fixed point would overshoot (clamp set alone past
    the ask) is NOT infeasible — E(c) is monotone in c, so the
    calibrator's bisection fallback finds the exact scale instead of
    keeping an overshooting one. Tokenless documents have no weight and are never kept
    (weight 0 — unlike :func:`dsir_top_k`'s rank-last fill, a
    proportional draw of zero weight is zero).

    The acceptance draw is ``u < p`` with ``u`` from
    ``xxhash64(id, seed)`` — deterministic, partition-invariant."""
    if n_expected < 1:
        raise ValueError(f"dsir_sample needs n_expected >= 1, got {n_expected}")
    if (target is None) == (model is None):
        raise ValueError(
            "dsir_sample takes exactly one of target (fresh fit) or "
            "model (a dsir_fit/dsir_load result)"
        )
    if model is None:
        model = dsir_fit(raw, target, id_col, text_col, n_buckets, alpha)
    w = cache_for_session(
        dsir_score(raw, model, id_col, text_col).select(
            id_col, F.exp(F.col("log_weight")).alias("_w")
        )
    )
    if scale is not None:
        if scale <= 0:
            raise ValueError(f"scale must be > 0, got {scale}")
        c = float(scale)
    else:
        c = _calibrate(w, n_expected, max_iter)
        if c is None:  # infeasible ask: keep every scorable doc
            return raw.join(w.select(id_col), id_col, "left_semi")
    # deterministic u in [0,1) from the id hash
    u = (
        F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(1 << 40))
        / F.lit(float(1 << 40))
    )
    kept_ids = w.filter(u < F.least(F.col("_w") * F.lit(c), F.lit(1.0))).select(
        id_col
    )
    return raw.join(kept_ids, id_col, "left_semi")
