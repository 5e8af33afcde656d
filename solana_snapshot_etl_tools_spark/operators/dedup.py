"""Document deduplication operators: exact, n-gram Jaccard, MinHash
LSH, SimHash.

Scale posture (100 TB):
- exact dedup is one hash-groupBy (map-side combined);
- exact pairwise Jaccard is quadratic in documents sharing a shingle —
  correct at validation scale, and the *verification* step of LSH;
- MinHash LSH is the scale path: signatures are one groupBy over
  exploded shingles, banding turns near-dup search into an equi-join
  on (band, signature) — no cross join anywhere;
- SimHash is one groupBy producing a 64-bit sketch per doc, with
  banded Hamming join for candidates.

All hash functions are Spark's xxhash64 with fixed integer salts —
deterministic across runs/partitions, no Python RNG.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W, functions as F

from solana_snapshot_etl_tools_spark.functions.text import char_shingles, tokens
from solana_snapshot_etl_tools_spark.session import (
    cache_for_session,
    checkpoint_for_session,
    release_frame,
)

def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition up to ``defaultParallelism`` when the input has
    fewer partitions — a small-file corpus (one parquet row group)
    otherwise runs CPU-heavy narrow maps (sketches, shingling) on a
    single core. At cluster scale a 100 TB scan already has far more
    partitions than cores; the repartition only ever fires on inputs
    small enough that its shuffle is trivial.

    The check itself is free only on a scan or a materialized (cached
    or checkpointed) frame. On any other input ``df.rdd`` has to plan
    the query, and under AQE that runs every shuffle stage of the
    input just to count its partitions (two jobs, 1.9 s, for the MinHash
    sketch's call on the corpus CLI's un-materialized exact-dedup
    output: ``plans/r17/job_sites_corpus_before.log``, 4 vCPU). Callers
    should hand it a scan or a materialized frame."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# --- exact dedup --------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct content hash with
    the kept representative (min id) and the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col).cast("binary")).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The deduplicated table itself: keep min-id row per content hash."""
    h = F.md5(F.col(text_col).cast("binary"))
    keep = (
        df.select(F.col(id_col).alias("_id"), h.alias("_h"))
        .groupBy("_h")
        .agg(F.min("_id").alias(id_col))
        .drop("_h")
    )
    return df.join(keep, id_col, "left_semi")


# --- exact n-gram Jaccard pairs -----------------------------------------------


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"),
        F.explode(char_shingles(F.col(text_col), k)).alias("sh"),
    )


JACCARD_MAX_DOC_FREQ = 8192


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    max_doc_freq: int | None = JACCARD_MAX_DOC_FREQ,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (doc_a < doc_b,
    jaccard > threshold).

    ``max_doc_freq`` drops shingles present in more than that many
    documents from *candidate generation* — the standard guard against
    the quadratic blow-up on ubiquitous shingles at scale. Reported
    jaccard values stay exact (the intersection is recomputed from the
    unfiltered shingle sets for surviving candidates); the only
    approximation is recall — a pair whose every shared shingle is
    high-frequency produces no candidate.

    The DEFAULT is the finite ``JACCARD_MAX_DOC_FREQ`` (same
    philosophy as the banded-join hot-bucket caps): the public API
    must not be quadratic-in-corpus-size by accident — with the guard,
    a single shingle's join fan-out is bounded by ``max_doc_freq²``
    however large the corpus grows. 8192 sits far above the test
    corpora's maximum shingle doc-frequency (~0.96·N at sf0.01/sf0.1,
    pinned by pytest), so the guard is provably inert there and the
    oracle stays exact. Pass ``max_doc_freq=None`` to opt in to the
    unguarded quadratic baseline (the validation reference)."""
    sh = shingle_sets(df, id_col, text_col, k)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    if max_doc_freq is None:
        a = sh.select(F.col("doc").alias("doc_a"), "sh")
        b = sh.select(F.col("doc").alias("doc_b"), "sh")
        inter = (
            a.join(b, "sh")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n").alias("nb"))
        jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
        return (
            inter.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") > threshold)
        )
    # guarded path: candidates from rare shingles only, exact verify
    # from the full (unfiltered) shingle sets
    cands = _shared_shingle_candidates(sh, max_doc_freq)
    return _verify_pairs_against_docs(cands, df, id_col, text_col, k, threshold)


def _shared_shingle_candidates(
    sh: DataFrame, max_doc_freq: int | None
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing a shingle, generated
    from shingles in at most ``max_doc_freq`` docs (the anti-quadratic
    guard — ``None`` disables it). Shared by the Jaccard and
    containment verifiers. char_shingles is distinct-per-doc, so a
    plain count IS the doc frequency — no countDistinct (which would
    add a dedup pass)."""
    pair_src = sh
    if max_doc_freq is not None:
        rare = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("sh")
        )
        pair_src = sh.join(rare, "sh")
    a = pair_src.select(F.col("doc").alias("doc_a"), "sh")
    b = pair_src.select(F.col("doc").alias("doc_b"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# --- near-dup clustering: pairs → components → keep decision ------------------


def connected_components(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    max_iter: int = 20,
    prefer_col: str | None = None,
) -> DataFrame:
    """Turn a near-dup PAIR list into the dedup DECISION table: every
    doc mapped to its component's canonical id (``keep_id``); docs in
    no pair keep themselves. By default the canonical is the
    component's MINIMUM id (the cheap, deterministic choice the DuckDB
    closure oracle mirrors). Pass ``prefer_col`` (a column of ``df``;
    higher = better, NULL = worst, ties by min id) to elect the
    highest-quality member as canonical instead — crawl reality keeps
    the best page of a duplicate family, not the one crawled first.
    The election is a post-pass over the converged label frame (one
    max-aggregate + one equi-join on 2-3 longs per doc); the
    propagation itself is unchanged, so the default path is
    byte-identical with ``prefer_col=None``.

    Hash-min label propagation over DataFrames —
    each iteration is one equi-join + one min-aggregate, converging in
    O(graph diameter) rounds (boilerplate families are stars via the
    hot-bucket cap, so 2-3 rounds in practice); no driver-side graph,
    no GraphFrames dependency. Raises if ``max_iter`` rounds don't
    converge (a pathological path graph) rather than returning a
    silently-wrong table.

    The per-round ``count()`` action is the convergence check — one
    tiny job per round over the label frame (2 longs per doc).

    Each round's label frame is ``localCheckpoint``-ed, not merely
    cached: the loop body references the previous frame TWICE (the
    neighbor join and the union), so without lineage truncation the
    logical plan doubles per round — on graphs whose diameter needs
    10+ rounds (chains, unlike the star-shaped boilerplate families)
    the driver dies building the 2^rounds-node plan string before any
    executor works. Checkpointing caps every round's plan at one join
    + one aggregate over a materialized frame. Every round is
    registered with the session cache registry; a superseded round's
    checkpoint RDD (2 longs/doc) is released as soon as the next round
    is materialized, and the FINAL label RDD, which backs the lazily
    returned result (and, after an error, the failed round's frames),
    stays until ``release_session_caches()``. Unlike a plain cache,
    releasing a checkpoint leaves nothing to recompute from, so after
    the release the returned frame cannot be re-materialized (rerun
    the operator; results a caller already collected stay valid)."""
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = (
        edges.unionByName(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .cache()
    )
    labels = checkpoint_for_session(
        df.select(F.col(id_col).alias("a"), F.col(id_col).alias("lbl")).distinct()
    )
    try:
        for _ in range(max_iter):
            nbr = edges.join(
                labels.select(F.col("a").alias("b"), "lbl"), "b"
            ).select("a", "lbl")
            # pointer jumping: also shortcut to the label's OWN label —
            # every label is a node id (min over ids), so l(l(a)) is
            # defined; the shortcut doubles resolved path depth per
            # round, making chain-shaped components converge in
            # O(log diameter) rounds instead of O(diameter). One extra
            # self-join of the 2-longs-per-doc label frame per round.
            hop = labels.select("a", F.col("lbl").alias("_k")).join(
                labels.select(F.col("a").alias("_k"), "lbl"), "_k"
            ).select("a", "lbl")
            new_labels = checkpoint_for_session(
                labels.unionByName(nbr)
                .unionByName(hop)
                .groupBy("a")
                .agg(F.min("lbl").alias("lbl"))
            )
            # min-propagation is monotone: a change strictly lowers a
            # label
            changed = (
                new_labels.join(labels.select("a", F.col("lbl").alias("old")), "a")
                .filter(F.col("lbl") < F.col("old"))
                .count()
            )
            release_frame(labels)  # superseded round's blocks
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components: no convergence in {max_iter} "
                "rounds (graph diameter exceeds max_iter)"
            )
    finally:
        edges.unpersist()
    out = labels.select(F.col("a").alias(id_col), F.col("lbl").alias("keep_id"))
    if prefer_col is None:
        return out
    # keep-best election: remap every component label to the member
    # with the highest prefer value (NULL = worst, ties -> min id).
    # max_by over a (pref, -id) struct would need id negation (UB at
    # Long.MIN); two tiny aggs over the label frame are just as cheap
    # at 2-3 longs per doc and exact. Components here include the
    # singletons (docs in no pair label themselves), so pass-through
    # docs also re-canonicalize to themselves — keep_id stays total.
    pref = df.select(
        F.col(id_col).alias("_m"),
        F.coalesce(
            F.col(prefer_col).cast("double"), F.lit(float("-inf"))
        ).alias("_pref"),
    )
    members = out.select(F.col(id_col).alias("_m"), "keep_id").join(pref, "_m")
    best = members.groupBy("keep_id").agg(F.max("_pref").alias("_best"))
    canon = (
        members.join(best, "keep_id")
        .filter(F.col("_pref") == F.col("_best"))
        .groupBy("keep_id")
        .agg(F.min("_m").alias("_canon"))
    )
    return (
        out.join(canon, "keep_id")
        .select(F.col(id_col), F.col("_canon").alias("keep_id"))
    )


# --- exact duplicate-substring statistics ------------------------------------

# Bound for the dense per-row temporaries in dup_span_stats' window
# scan (same rationale as plans/llm_ops.py CDC_SEGMENT_CHARS and
# operators/excise.py EXCISE_SEGMENT_CHARS): a single dense
# transform(sequence(1, n-k+1), ..) materializes one hash per
# character in ONE row-level array — ~8n bytes in a single task
# allocation, unbounded on multi-MB documents. Splitting the scan
# into bounded segment slices caps every row-level temporary at
# ~(segment + k) chars / segment longs; the two-level explode means
# no flattened O(doc_len) array is ever built either. Output is
# segmentation-invariant (each window hash reads only the text),
# pinned by pytest.
DUP_SPAN_SEGMENT_CHARS = 65536


def dup_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    segment_chars: int = DUP_SPAN_SEGMENT_CHARS,
) -> DataFrame:
    """Per-doc exact duplicate-substring statistics — the substring-
    level dedup primitive (Lee et al., "Deduplicating Training Data
    Makes Language Models Better": duplicated ≥k-char spans across
    docs): for each doc with ≥k chars, the count and fraction of its
    distinct k-char windows (lowercased) that also occur in at least
    one other doc.

    Scale shape: the window scan is a two-level NARROW explode —
    bounded ``segment_chars``(+k−1)-char slices first, then per-
    segment window hashes over a code-point array — so no row-level
    temporary scales with document length (a multi-MB doc can no
    longer inflate one row by ~doc_len entries; VERDICT r5), and each
    window is an O(k) array slice, not a per-position ``substring``
    (an O(i) scan on UTF-8 strings → O(n²)/doc on huge documents).
    Windows are xxhash64'd to 8-byte keys before any shuffle, so the
    distinct / frequency / rejoin stages move longs, never 50-char
    strings — at 100 TB the wide stages carry ~8 bytes per window
    instead of ~50+. No quadratic stage: doc-frequency is one
    groupBy, membership one equi-join. (The DuckDB oracle compares
    raw substrings — agreement is exact unless xxhash64 collides
    inside the corpus, which the hash-checked gate would expose.
    split('')/ascii/length/substring are all CODE-POINT semantics on
    Spark 4 — probed: split('') keeps an astral char as one element
    and ascii returns its full code point — so windowing matches the
    oracle's substring view on non-BMP text too; pinned by the astral
    differential pytest. sf0.1 A/B of window-key variants:
    this shape 2.8 s steady vs 3.5 s for the old dense substring scan
    and 5.7 s for slice+array_join string rebuilds.)"""
    if segment_chars < 1:
        raise ValueError(f"segment_chars must be >= 1, got {segment_chars}")
    t = F.lower(F.col(text_col))
    n = F.length(t)
    seg = segment_chars
    # segment j covers window starts [1+j*seg, min((j+1)*seg, n-k+1)]
    # and needs chars up to start+k-1 → a seg+k-1-char slice
    # (substring clamps at the string end). Contiguous,
    # non-overlapping starts ⇒ the window multiset is independent of
    # seg. Cutting segments from the STRING (not a char array) keeps
    # the outer pass allocation-light; lower() is evaluated once here
    # instead of once per window.
    segments = F.transform(
        F.sequence(F.lit(1), n - (k - 1), F.lit(seg)),
        lambda s: F.substring(t, s, seg + k - 1),
    )
    win_hashes = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_cp")) - (k - 1)),
        lambda i: F.xxhash64(F.slice(F.col("_cp"), i, k)),
    )
    # SINGLE-SCAN shape (optimization r16, guide §2.4/§2.3): the old
    # plan fanned the distinct window frame out to three consumers
    # (per-doc sizes, doc-frequency, membership rejoin) and re-ran the
    # explode+hash+distinct subtree once per consumer — 8 live
    # exchanges, zero ReusedExchange, the narrow compute
    # (split/ascii/xxhash64 per window) paid 3x, and the wide stages
    # shuffled the window set 3x. (A round-5 A/B showed a .cache() at
    # that fan-out was slower still — blocking materialization beat
    # three concurrent re-runs.) The restructure removes the fan-out:
    # one distinct (map-side partial dedup before its exchange), the
    # doc-frequency groupBy over it, then ONE left equi-join back
    # (shuffle_hash, pinned — an SMJ would re-sort both sides for
    # nothing) whose wh-exchange of w is the same subtree as the
    # frequency groupBy's input, so Spark reuses one shuffle for both
    # (ReusedExchange), and ONE groupBy(doc) computing n_windows and
    # n_shared together. The narrow subtree runs once; exchanges carry
    # 16-byte rows. n_shared as sum(shared flag) ≡ the old
    # join-with-shared count; docs with zero shared windows get 0 from
    # the sum instead of the old left-join coalesce. (A window-function
    # spelling — count over W.partitionBy("wh") — was measured SLOWER
    # than both shapes at sf0.1: WindowExec's full sort of the window
    # set beats everything else on the critical path. Numbers in
    # OPTIMIZATION_r16.md.)
    # spread the input before the CPU-heavy window scan (r16): a
    # one-row-group corpus file scans as a single partition, so the
    # whole explode+split+xxhash subtree otherwise runs on ONE core
    # before its first exchange; the spread is a planning no-op once
    # the scan has >= core-count partitions (100 TB case)
    w = (
        spread_small_input(df.select(id_col, text_col))
        .filter(n >= k)
        .select(F.col(id_col).alias("doc"), F.explode(segments).alias("_sc"))
        .select(
            "doc", F.transform(F.split(F.col("_sc"), ""), F.ascii).alias("_cp")
        )
        .select("doc", F.explode(win_hashes).alias("wh"))
        .distinct()
    )
    shared = (
        w.groupBy("wh")
        .agg(F.count(F.lit(1)).alias("nd"))  # post-distinct: nd = n docs
        .filter(F.col("nd") >= 2)
        .select("wh", F.lit(1).alias("_sh"))
    )
    return (
        w.join(shared.hint("shuffle_hash"), "wh", "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.coalesce(
                F.sum(F.coalesce(F.col("_sh"), F.lit(0)).cast("long")),
                F.lit(0).cast("long"),
            ).alias("n_shared_windows"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_windows",
            "n_shared_windows",
            (F.col("n_shared_windows") / F.col("n_windows")).alias("dup_frac"),
        )
    )


# --- hot-bucket cap -------------------------------------------------------------

# Banded candidate joins are quadratic *within* a (band, bh) bucket: a
# family of m near-identical docs (license boilerplate, templated
# pages) lands in the same buckets and emits O(m^2) join rows before
# any downstream filter can prune — AQE splits the shuffle, not the
# output cardinality. The caps below bound that: buckets larger than
# the cap are removed from the all-pairs join and (in "star" mode)
# re-emitted as (bucket-min doc, member) pairs — O(m) rows that keep
# every member connected to a representative, which is what dedup
# needs to collapse the family. Defaults are far above any bucket the
# test corpora produce (minhash max 161 at sf0.1; simhash max ~2k with
# the template-heavy synthetic corpus) so oracle outputs are
# unchanged; at 100 TB they are the guard that keeps the worst bucket
# at cap^2 ≈ 10^5-10^6 rows instead of 10^12.
MINHASH_MAX_BUCKET = 512
SIMHASH_MAX_BUCKET = 1024


def _cap_hot_buckets(
    banded: DataFrame,
    keys: list[str],
    max_bucket_size: int | None,
    mode: str,
    observation=None,
    rep_extra: dict[str, str] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Split a banded frame into (cool rows, hot-bucket star pairs).

    ``banded`` must carry a ``doc`` column plus ``keys``. Buckets with
    more than ``max_bucket_size`` rows are anti-joined out of the
    returned cool frame (broadcast — hot buckets are few by
    construction). ``mode``:

    - ``"star"`` (default): each hot bucket also yields ``(rep,
      member)`` rows — rep is the bucket's min doc — returned as the
      second frame with columns ``doc_a``/``doc_b`` (+ ``rep_extra``:
      per-name min_by(col, doc) of the rep, aliased, for verifiers
      that need the rep's sketch in-row). Bounded O(m) per bucket and
      keeps the duplicate family one connected component.
    - ``"drop"``: hot buckets vanish entirely (second frame is None).

    ``observation`` (a ``pyspark.sql.Observation``) records
    ``hot_buckets`` / ``hot_rows`` — the logged drop count — when the
    final query executes.
    """
    if max_bucket_size is None:
        return banded, None
    if mode not in ("star", "drop"):
        raise ValueError(f"hot_bucket_mode must be 'star' or 'drop', got {mode!r}")
    aggs = [
        F.count(F.lit(1)).alias("_bsz"),
        F.min("doc").alias("_rep"),
    ]
    for alias, src in (rep_extra or {}).items():
        aggs.append(F.min_by(src, "doc").alias(alias))
    sizes = banded.groupBy(*keys).agg(*aggs)
    hot = sizes.filter(F.col("_bsz") > max_bucket_size)
    hot_keys = hot.select(*keys)
    if observation is not None:
        hot_keys = hot.observe(
            observation,
            F.count(F.lit(1)).alias("hot_buckets"),
            F.coalesce(F.sum("_bsz"), F.lit(0)).alias("hot_rows"),
        ).select(*keys)
    cool = banded.join(F.broadcast(hot_keys), keys, "left_anti")
    if mode == "drop":
        return cool, None
    star = (
        banded.join(F.broadcast(hot), keys)
        .filter(F.col("doc") != F.col("_rep"))
        .select(
            F.col("_rep").alias("doc_a"),
            F.col("doc").alias("doc_b"),
            *[F.col(a) for a in (rep_extra or {})],
        )
    )
    return cool, star


# --- MinHash + LSH --------------------------------------------------------------

N_HASHES = 64
LSH_BANDS = 16  # r = N_HASHES / LSH_BANDS = 4 rows per band


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, n_hashes: int = N_HASHES
) -> DataFrame:
    """One row per doc with an array of n_hashes minhash values,
    computed as a NARROW Arrow-batched numpy map — no explode, no
    groupBy, no shuffle.

    Why a pandas UDF here (the deliberate exception to the
    builtins-first rule): the per-doc sketch needs n_hashes passes
    over a variable-length shingle array. The two JVM expressions for
    that were both measured worse at sf0.1: 64 parallel
    ``min(xxhash64(i, sh))`` aggregation buffers over exploded
    shingles (round-1 bench: 21 s — buffer-heavy shuffle), and nested
    higher-order ``transform``/``array_min`` (interpreted per element,
    >500 s). The numpy path vectorizes to a (n_hashes × n_shingles)
    splitmix64 matrix per doc and runs in well under a second of
    aggregate CPU at the same scale.

    Shingles here are k-BYTE windows of the lowercased UTF-8 text
    (identical to k-char windows for ASCII). The sketch hash family is
    internal: candidate recall is what matters, and the emitted pairs
    are exact-verified against true k-char Jaccard downstream.
    Constants are fixed → deterministic across runs and partitions.
    """
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StructField,
        StructType,
    )

    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [
            StructField("doc", id_type),
            StructField("sig", ArrayType(LongType())),
        ]
    )

    def gen(batches):
        import numpy as np

        gold = np.uint64(0x9E3779B97F4A7C15)
        k1 = np.uint64(0xBF58476D1CE4E5B9)
        k2 = np.uint64(0x94D049BB133111EB)
        salts = (np.arange(n_hashes, dtype=np.uint64) + np.uint64(1)) * gold
        pw = np.uint64(256) ** np.arange(k - 1, -1, -1, dtype=np.uint64)
        # Bound the (n_hashes × windows) mixing matrix: 2^16 windows →
        # 32 MB of uint64 per slice regardless of document size. The
        # unbounded r16 kernel allocated 64 × n_shingles for the WHOLE
        # document (a 10 MB doc ≈ 5 GB transient in the Python worker
        # — the exit-137 signature at 100 TB); a document past the
        # budget is scanned in overlapping ((k-1)-byte) slices and the
        # slice signatures min-combine (min over duplicated shingles
        # is idempotent). A full BATCH-flattened spelling (one lexsort
        # dedupe + one segmented reduceat min across all docs) was
        # also built and A/B'd (r17): sig stage flat, full
        # dedup_minhash_lsh query 4.02 s vs 3.63 s median — the big
        # lexsort loses to per-doc np.unique's cache locality; the
        # per-doc loop with the slice bound keeps the old speed AND
        # the memory cap. Bit-identical either way, pinned by
        # test_minhash_kernel_matches_per_doc_reference.
        window_budget = 1 << 16

        def sketch_keys(keys: np.ndarray) -> np.ndarray:
            """(n_hashes,) UINT64 minima over one distinct-key set
            (minima must be taken in uint64 space — the int64
            two's-complement cast happens once at yield)."""
            z = keys[None, :] ^ salts[:, None]  # (n_hashes, n_keys)
            z = (z ^ (z >> np.uint64(30))) * k1
            z = (z ^ (z >> np.uint64(27))) * k2
            z = z ^ (z >> np.uint64(31))
            return z.min(axis=1)

        def doc_keys(b: np.ndarray) -> np.ndarray:
            w = np.lib.stride_tricks.sliding_window_view(b, k)
            return np.unique((w.astype(np.uint64) * pw).sum(axis=1))

        for pdf in batches:
            ids, sigs = [], []
            for did, txt in zip(pdf[id_col], pdf[text_col]):
                if txt is None:
                    continue
                b = np.frombuffer(txt.lower().encode("utf-8"), dtype=np.uint8)
                if b.size < k:
                    continue
                ids.append(did)
                if b.size - k + 1 <= window_budget:
                    sigs.append(sketch_keys(doc_keys(b)))
                else:
                    acc = np.full(n_hashes, np.uint64(0xFFFFFFFFFFFFFFFF))
                    for s in range(0, b.size - (k - 1), window_budget):
                        part = sketch_keys(
                            doc_keys(b[s : s + window_budget + k - 1])
                        )
                        np.minimum(acc, part, out=acc)
                    sigs.append(acc)
            out = (
                np.stack(sigs)
                if sigs
                else np.empty((0, n_hashes), dtype=np.uint64)
            ).astype(np.int64)  # u64 → i64 two's-complement, once
            yield pd.DataFrame({"doc": ids, "sig": list(out)})

    return spread_small_input(df.select(id_col, text_col)).mapInPandas(
        gen, out_schema
    )


def banded_signature_rows(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    n_hashes: int = N_HASHES,
    key_name: str = "bh",
) -> DataFrame:
    """(doc, band, <key_name>) rows: xxhash64 over each band's r
    consecutive signature slots. THE canonical banding spelling —
    shared by the pair generator below and the persisted incremental
    index (``operators/incremental.py``), so an index written
    yesterday stays probeable: any change here is a breaking format
    change for persisted indexes."""
    r = n_hashes // bands
    return sig.select(
        "doc",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col("sig")[b * r + i] for i in range(r)]).alias(
                            key_name
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("e"),
    ).select("doc", "e.band", f"e.{key_name}")


def minhash_lsh_candidates(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    n_hashes: int = N_HASHES,
    max_bucket_size: int | None = MINHASH_MAX_BUCKET,
    hot_bucket_mode: str = "star",
    observation=None,
) -> DataFrame:
    """Band the signature and equi-join on (band, band_hash): docs
    agreeing on all rows of any band become candidate pairs.

    Buckets larger than ``max_bucket_size`` are excluded from the
    all-pairs join (see ``_cap_hot_buckets``): in ``"star"`` mode each
    hot bucket instead contributes (min-doc, member) pairs, so a
    boilerplate family of m near-identical docs costs O(m) candidate
    rows, not O(m^2), and still collapses to one representative
    downstream. ``observation`` records hot_buckets/hot_rows."""
    banded = banded_signature_rows(sig, bands, n_hashes)
    banded, star = _cap_hot_buckets(
        banded, ["band", "bh"], max_bucket_size, hot_bucket_mode, observation
    )
    a = banded.select(F.col("doc").alias("doc_a"), "band", "bh")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "bh")
    # NOTE: deliberately NOT .distinct() here — a pair agreeing in
    # several bands is emitted once per band, and the caller dedupes
    # AFTER its cheap estimate filter: distinct on the post-filter set
    # is a much smaller shuffle than on the raw candidate multiset.
    pairs = (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    if star is not None:
        pairs = pairs.unionByName(star)
    return pairs


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = 3,
    max_bucket_size: int | None = MINHASH_MAX_BUCKET,
    hot_bucket_mode: str = "star",
    observation=None,
) -> DataFrame:
    """MinHash-LSH near-dup pairs with exact Jaccard verification.

    Three-stage scale design (no quadratic stage anywhere):
    1. banded signature equi-join → candidate pairs
       (recall ≥ 1-(1-t^r)^b ≈ 99.98% at t=0.8 with r=4, b=16);
    2. cheap estimate filter: fraction of agreeing minhashes ≥
       threshold-0.1 — O(n_hashes) per candidate, no shingle access.
       On corpora with high background similarity (this synthetic set
       averages 0.44 jaccard between random docs) banding alone
       passes a large share of all pairs; the estimate filter cuts
       them before the expensive stage. Multi-band duplicates are
       deduped HERE (post-filter), where the set is smallest;
    3. exact Jaccard verification via per-doc shingle-set array
       intersection, restricted to the est survivors → precision 1.0.

    Signatures and shingle sets are both NARROW projections of the
    document rows (no explode/groupBy — see minhash_signatures), so
    the only shuffles are the banded equi-join and the verification
    joins. The signature frame is cached: it feeds both the banding
    and the estimate filter.
    """
    sig = cache_for_session(minhash_signatures(df, id_col, text_col, k))
    # No explicit repartition of the candidate multiset: an earlier
    # shape pinned core-count parallelism here because the inline
    # shingle-per-pair verify downstream was CPU-heavy and AQE's
    # byte-based coalescing under-parallelized it. The verify now
    # shingles each candidate doc once (see _verify_pairs_against_docs)
    # and the per-candidate work left in this stage is one
    # array_intersect over n_hashes longs (~µs/row), so an AQE-coalesced
    # ~64 MB partition of 2-id rows is seconds of CPU — acceptable task
    # granularity at 100 TB, and the dropped shuffle is worth ~0.8 s at
    # sf0.1 (measured 3.6 s → 2.8 s steady-state).
    cands = minhash_lsh_candidates(
        sig,
        max_bucket_size=max_bucket_size,
        hot_bucket_mode=hot_bucket_mode,
        observation=observation,
    )
    sa = sig.select(F.col("doc").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc").alias("doc_b"), F.col("sig").alias("sig_b"))
    # positional agreement ≈ |array_intersect|: each position is salted
    # with a different family member, so equal values across different
    # positions are ~impossible — and array_intersect is a native
    # collection expression (compiled Scala inner loop), unlike
    # zip_with/aggregate lambdas which are interpreted per element
    # (measured 85 s over the 10M-row candidate multiset at sf0.1).
    agree = F.size(F.array_intersect("sig_a", "sig_b"))
    est = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", (agree / F.size("sig_a")).alias("est"))
        .filter(F.col("est") >= threshold - 0.1)
        .select("doc_a", "doc_b")
        .distinct()
    )
    return _verify_pairs_against_docs(est, df, id_col, text_col, k, threshold)


def _verify_pairs_against_docs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard for candidate pairs.

    Each candidate doc is shingled ONCE: the corpus is semi-joined to
    the ids appearing in the pair list, the surviving docs get their
    distinct-shingle set materialized in a single narrow pass, and the
    pair list equi-joins that set table on each side. An earlier shape
    shingled inline *after* the pair join, recomputing a doc's set once
    per pair it appears in — char_shingles is an interpreted
    higher-order transform, and on a boilerplate-heavy corpus where a
    hot doc lands in dozens of candidate pairs that redundancy
    dominated the whole operator (measured ~160 s of a ~190 s run at
    sf0.1). Only candidate docs are ever shingled, so at 100 TB this
    stays bounded by candidate volume — no full-corpus shingle
    materialization."""
    sets = _pair_shingle_sets(pairs, df, id_col, text_col, k)
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    jac = inter / (F.size("shs_a") + F.size("shs_b") - inter)
    return (
        sets.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") > threshold)
    )


def _pair_shingle_sets(
    pairs: DataFrame, df: DataFrame, id_col: str, text_col: str, k: int
) -> DataFrame:
    """(doc_a, doc_b, shs_a, shs_b) for every candidate pair — the
    verify-once shape shared by the Jaccard and containment
    verifiers."""
    # the pair list fans out to three consumers (both branches of the
    # candidate-id union and the final sets join); without a persist
    # each one would re-execute the whole upstream candidate/estimate
    # pipeline — cache the narrow 2-id rows instead
    pairs = cache_for_session(pairs)
    ids = (
        pairs.select(F.col("doc_a").alias("_vid"))
        .unionByName(pairs.select(F.col("doc_b").alias("_vid")))
        .distinct()
    )
    # shingling is the CPU-heavy part — spread a small-file corpus so
    # it doesn't run on one core (no-op when the scan is already wide)
    docs = spread_small_input(
        df.select(F.col(id_col).alias("_vid"), F.col(text_col).alias("_vt"))
    )
    shingled = docs.join(ids, "_vid", "left_semi").select(
        "_vid", char_shingles(F.col("_vt"), k).alias("_shs")
    )
    sa = shingled.select(F.col("_vid").alias("doc_a"), F.col("_shs").alias("shs_a"))
    sb = shingled.select(F.col("_vid").alias("doc_b"), F.col("_shs").alias("shs_b"))
    return pairs.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", "shs_a", "shs_b"
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.9,
    k: int = 3,
    max_doc_freq: int | None = JACCARD_MAX_DOC_FREQ,
) -> DataFrame:
    """Asymmetric near-dup detection (Broder's containment):
    ``|S_a ∩ S_b| / min(|S_a|, |S_b|)`` — catches a short document
    quoted verbatim inside a long one, which Jaccard structurally
    misses (the union grows with the size gap, so a fully-contained
    quote scores ``|short|/|long|`` ≈ 0). Emits
    (doc_a < doc_b, containment, contained_doc) above ``threshold``,
    where ``contained_doc`` is the smaller-set side (ties → doc_a).

    Same scale posture as ``jaccard_pairs``: candidates from
    ≤``max_doc_freq``-frequency shingles (the anti-quadratic guard,
    inert on the test corpora), verification from the full shingle
    sets via the shared verify-once pair-sets join."""
    sh = shingle_sets(df, id_col, text_col, k)
    cands = _shared_shingle_candidates(sh, max_doc_freq)
    sets = _pair_shingle_sets(cands, df, id_col, text_col, k)
    inter = F.size(F.array_intersect("shs_a", "shs_b"))
    na, nb = F.size("shs_a"), F.size("shs_b")
    cont = inter / F.least(na, nb)
    return (
        sets.select(
            "doc_a",
            "doc_b",
            cont.alias("containment"),
            F.when(na <= nb, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
                "contained_doc"
            ),
        )
        .filter(F.col("containment") > threshold)
    )


# --- SimHash ---------------------------------------------------------------------


def simhash64(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_budget: int = 1 << 20,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens: per bit, sum +1/-1 votes
    of each token occurrence's hash bit; vote sign → bit.

    NARROW two-step, no shuffle: (1) per-token 64-bit hashes; (2) an
    Arrow-batched numpy map unpacks each doc's hash array into a
    (n_tokens × 64) bit matrix and reduces it to the sketch. Replaces
    the round-1 64-parallel-sum aggregation buffers (12 s at sf0.1);
    the sketch is 8 bytes per doc regardless of doc size.

    ``hash_family``:

    - ``"xxhash64"`` (default): one JVM ``transform`` pass of Spark's
      xxhash64 — sketches bit-identical to the round-1 implementation,
      but NOT reproducible outside Spark (rows-only oracle);
    - ``"poly257"``: base-257 polynomial over the token's code points,
      mod 2^64 (numpy uint64 wrap) — the DuckDB-reproducible family
      (HUGEINT + explicit mod spells the same value; parity pinned in
      tests), enabling a value-level oracle for the simhash queries.
    """
    from pyspark.sql.types import LongType, StructField, StructType

    if hash_family not in ("xxhash64", "poly257"):
        raise ValueError(f"unknown hash_family {hash_family!r}")
    id_type = df.schema[id_col].dataType
    out_schema = StructType(
        [StructField("doc", id_type), StructField("simhash", LongType())]
    )
    if hash_family == "xxhash64":
        payload = F.transform(tokens(F.col(text_col)), lambda t: F.xxhash64(t))
    else:
        payload = tokens(F.col(text_col))  # strings; hashed numpy-side
    base = spread_small_input(
        df.select(F.col(id_col).alias("doc"), payload.alias("hs")).filter(
            F.size("hs") > 0
        )
    )

    def gen(batches):
        import numpy as np

        powers = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))

        def poly_hashes(toks) -> np.ndarray:
            """Vectorized base-257 mod-2^64 fold over each token's code
            points (one masked step per character position — tokens are
            short, so ~8 steps for the whole chunk), then a
            splitmix64-style finalizer. The finalizer is ESSENTIAL:
            the raw polynomial of a ≤8-char token is < 257^8 ≈ 2^64
            but wildly non-uniform (short tokens never set the top
            bits → two dozen sketch bits identical across every doc →
            the Hamming space collapses and everything looks near-dup;
            measured 29k pairs vs 84 on the sf0.001 corpus). Every
            step (xor, shift, mul mod 2^64) is reproducible in DuckDB
            HUGEINT arithmetic — parity pinned in tests."""
            tl = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
            cps = np.frombuffer(
                "".join(toks).encode("utf-32-le"), dtype=np.uint32
            ).astype(np.uint64)
            off = np.zeros(len(tl), dtype=np.int64)
            np.cumsum(tl[:-1], out=off[1:])
            h = np.zeros(len(tl), dtype=np.uint64)
            for p in range(int(tl.max()) if len(tl) else 0):
                m = tl > p
                h[m] = h[m] * np.uint64(257) + cps[off[m] + p]
            h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
            h = h ^ (h >> np.uint64(31))
            return h.view(np.int64)

        # Bound the bit-matrix allocation: 1 uint8 byte per (token, bit)
        # means a sub-chunk costs ≤ 64 MB at this budget, regardless of
        # how long the batch's documents are. Without the budget a
        # ~10k-row Arrow batch of long docs allocates (total_tokens × 64)
        # uint64s — a multi-GB executor OOM vector.
        for pdf in batches:
            if not len(pdf):
                continue
            # whole-batch vectorization, sub-chunked on doc boundaries:
            # flatten the chunk's token-hash arrays, unpack to a
            # (chunk_tokens × 64) uint8 bit matrix (unpackbits on the
            # little-endian byte view puts column j at bit j — no
            # uint64 intermediate, no second copy), segment-sum per doc
            # with a widening reduceat. Semantics identical to the
            # per-doc loop: votes = 2·popcount − n, bit set iff > 0.
            lens = pdf["hs"].map(len).to_numpy(dtype=np.int64)
            hs = pdf["hs"].to_numpy()
            sk = np.empty(len(lens), dtype=np.uint64)
            start = 0
            while start < len(lens):
                stop, tok = start + 1, lens[start]
                while stop < len(lens) and tok + lens[stop] <= token_budget:
                    tok += lens[stop]
                    stop += 1
                if hash_family == "poly257":
                    flat = poly_hashes(
                        [t for row in hs[start:stop] for t in row]
                    )
                else:
                    flat = np.concatenate(
                        [np.asarray(h, dtype=np.int64) for h in hs[start:stop]]
                    )
                bits = np.unpackbits(
                    flat.astype("<i8", copy=False).view(np.uint8).reshape(-1, 8),
                    axis=1,
                    bitorder="little",
                )
                off = np.zeros(stop - start, dtype=np.int64)
                np.cumsum(lens[start:stop][:-1], out=off[1:])
                sums = np.add.reduceat(bits, off, axis=0, dtype=np.int64)
                votes = 2 * sums - lens[start:stop, None]
                sk[start:stop] = ((votes > 0) * powers).sum(
                    axis=1, dtype=np.uint64
                )
                start = stop
            # u64 → i64 two's-complement (bit 63 set ⇒ negative long)
            yield pd.DataFrame(
                {"doc": pdf["doc"], "simhash": sk.astype(np.int64)}
            )

    return base.mapInPandas(gen, out_schema)


# explode fan-out ceiling for the multi-block scheme: C(10, 5) = 252
# bands is the largest useful k=5 configuration; anything past ~1k
# bands costs more in exploded rows than it saves in join selectivity
_MAX_BANDS = 1024


def _block_bands(
    max_hamming: int, n_blocks: int
) -> list[list[tuple[int, int]]]:
    """Manku-style multi-block banding (Manku/Jain/Sarma, "Detecting
    near-duplicates for web crawling", WWW'07 §3): the 64 sketch bits
    split into ``n_blocks`` near-equal blocks; one band per
    ``n_blocks - max_hamming``-subset of blocks, keyed on the
    CONCATENATION of that subset's block values.

    Recall is exact by pigeonhole: at most ``max_hamming`` differing
    bits touch at most ``max_hamming`` blocks, so at least
    ``n_blocks - max_hamming`` blocks agree — and some band keys on
    exactly an agreeing subset. ``n_blocks = max_hamming + 1`` is the
    single-block scheme: ``max_hamming + 1`` disjoint chunks, one band
    each (6×~11 bits at the default 5 — fewest exploded rows). More
    blocks buy SELECTIVITY: at the k=5 default, ``n_blocks=8`` turns 6
    bands of ~11-bit keys (2k bucket values — the measured
    super-linear asymptote of the 100x probe, where buckets saturate
    at n >> 2^11) into C(8,5)=56 bands of 24-bit keys (16M bucket
    values), shrinking expected candidate volume by ~2^13/9 at the
    cost of a ~9x wider explode of 4-long rows.

    Returns one band per entry: the list of (shift, width) blocks
    whose values concatenate into that band's key."""
    from itertools import combinations
    from math import comb

    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    if not max_hamming < n_blocks <= 64:
        raise ValueError(
            f"n_blocks must be in (max_hamming, 64], got {n_blocks} "
            f"with max_hamming={max_hamming}"
        )
    n_bands = comb(n_blocks, max_hamming)
    if n_bands > _MAX_BANDS:
        raise ValueError(
            f"C({n_blocks}, {max_hamming}) = {n_bands} bands exceeds "
            f"the {_MAX_BANDS} explode cap — use fewer blocks"
        )
    base, extra = divmod(64, n_blocks)
    blocks, shift = [], 0
    for i in range(n_blocks):
        w = base + (1 if i < extra else 0)
        blocks.append((shift, w))
        shift += w
    return [list(c) for c in combinations(blocks, n_blocks - max_hamming)]


def hamming_band_join(
    hashes: DataFrame,
    max_hamming: int,
    *,
    group_cols: tuple[str, ...] = (),
    n_blocks: int | None = None,
    max_bucket_size: int | None,
) -> DataFrame:
    """Banded 64-bit Hamming self-join: ``(doc, hash[, group_cols])``
    → distinct ``(doc_a, doc_b, hamming)`` with ``doc_a < doc_b`` and
    ``hamming <= max_hamming``; only rows with equal ``group_cols``
    pair. ``hash`` is a 64-bit long; null hashes never pair.

    Banding is ``_block_bands(max_hamming, n_blocks or max_hamming +
    1)`` (pigeonhole-exact recall), the equi-join runs on (group_cols,
    band, block-key value), and ``bit_count(a XOR b)`` verifies every
    candidate exactly. No cross join anywhere.

    Buckets above ``max_bucket_size`` bypass the all-pairs join (see
    ``_cap_hot_buckets``): their members pair with the bucket-min doc
    instead — the rep's hash rides along via min_by and the member's
    comes from an id join, so star pairs are verified exactly too
    (precision stays 1.0; only recall within oversized buckets is
    approximated, and those are precisely the near-identical families
    a rep-based dedup collapses anyway)."""
    hashes = hashes.filter(F.col("hash").isNotNull())
    bands = _block_bands(max_hamming, n_blocks or max_hamming + 1)

    def band_key(blocks: list[tuple[int, int]]):
        # concatenated block values; total kept width is <= 64 by
        # construction, so the key always fits the long. A 64-wide
        # block's mask is all-ones = -1 in two's complement
        # ((1 << 64) - 1 overflows LongType).
        key = None
        for shift, width in blocks:
            v = F.shiftrightunsigned("hash", shift).bitwiseAND(
                F.lit((1 << width) - 1 if width < 64 else -1)
            )
            key = v if key is None else F.shiftleft(key, width).bitwiseOR(v)
        return key

    keys = [*group_cols, "band", "bh"]
    banded = hashes.select(
        "doc",
        "hash",
        *group_cols,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), band_key(bl).alias("bh"))
                    for i, bl in enumerate(bands)
                ]
            )
        ).alias("e"),
    ).select("doc", "hash", *group_cols, "e.band", "e.bh")
    banded, star = _cap_hot_buckets(
        banded, keys, max_bucket_size, "star", rep_extra={"ha": "hash"}
    )
    a = banded.select(F.col("doc").alias("doc_a"), F.col("hash").alias("ha"), *keys)
    b = banded.select(F.col("doc").alias("doc_b"), F.col("hash").alias("hb"), *keys)
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    # shuffle_hash, pinned: the banded frame is corpus x bands rows,
    # but Catalyst sizes it from the 16-byte-per-doc input (a CACHED
    # sketch relation for simhash) and does not scale the estimate
    # through the explode — at the 100x probe the planner broadcast
    # the 28M-row side (3.1 GiB hash relation, spilled, 68 s vs 14 s).
    # A banded self-join must never broadcast at any scale, and
    # sorting it (SMJ) buys nothing — shuffle-hash is the right
    # physical join here, period.
    pairs = (
        a.join(b.hint("shuffle_hash"), keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
    )
    if star is not None:
        # star pairs carry the rep's hash as ha; doc_b's hash comes
        # from an id join against the (16 bytes/doc) input
        star_pairs = star.join(
            hashes.select(F.col("doc").alias("doc_b"), F.col("hash").alias("hb")),
            "doc_b",
        ).select("doc_a", "doc_b", ham.alias("hamming"))
        pairs = pairs.unionByName(star_pairs)
    return (
        pairs.filter(F.col("hamming") <= max_hamming)  # cheap row filter first,
        .distinct()  # then dedupe the (smaller) surviving set
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 5,
    max_bucket_size: int | None = SIMHASH_MAX_BUCKET,
    hash_family: str = "xxhash64",
    n_blocks: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming: the
    64-bit sketch (``simhash64``) through ``hamming_band_join``.

    ``n_blocks`` selects the banding scheme (output-identical by the
    pigeonhole argument, verified by test):

    - ``None`` (default): ``max_hamming + 1`` single-block bands —
      fewest exploded rows, right up to corpora of ~2^11 x bucket-cap
      docs;
    - ``> max_hamming + 1``: Manku multi-block bands (``_block_bands``)
      — C(n_blocks, max_hamming) bands keyed on concatenated block
      subsets. The 100 TB setting: at the k=5 default the single-block
      keys carry only ~11 bits, so candidate volume grows ~n^2/2^11
      once n >> 2k (the measured super-linear last decade of the r15
      100x scale probe); ``n_blocks=7`` widens keys to ~18 bits (2^7 x
      fewer random collisions for 3.5x more exploded rows — the
      measured sweet spot: banding+join term 4.3 s vs the single-block
      7.5 s at the 500k-doc probe), ``n_blocks=8`` to 24 bits (better
      asymptotics, 9x explode — right once n approaches 2^18 x bucket
      cap). The remaining wall at the probe is the linear sketch
      stage, common to every scheme.

    Buckets above ``max_bucket_size`` degrade to verified star pairs
    (see ``hamming_band_join``)."""
    # cache the sketch frame: the banded explode fans out to the
    # bucket-size aggregate, the anti-join, the star join and both
    # sides of the candidate join — without a persist each consumer
    # re-executes the Python sketch stage. 8 bytes per doc, so the
    # cache is tiny even at corpus scale.
    sk = cache_for_session(simhash64(df, id_col, text_col, hash_family=hash_family))
    return hamming_band_join(
        sk.withColumnRenamed("simhash", "hash"),
        max_hamming,
        n_blocks=n_blocks,
        max_bucket_size=max_bucket_size,
    )


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    candidate_pairs: DataFrame | None = None,
    max_iter: int = 20,
    prefer_col: str | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup DECISION table: every vector mapped
    to its semantic component's canonical id (``keep_id``) — the
    minimum id by default, or the highest-``prefer_col`` member (a
    column of ``emb``; ties by min id) when a quality signal should
    pick the survivor (see ``connected_components``).

    The pair source is pluggable — the scale posture lives there:

    - default (``candidate_pairs=None``): exact all-pairs cosine via
      ``similarity.cosine_pairs`` — the validation baseline, guarded by
      its ``max_rows`` probe so it cannot silently go quadratic on a
      production corpus;
    - at 100 TB, pass candidates from the banded/bucketed generators
      (``similarity.lsh_ann_topk`` buckets, IVF list cohabitation, or
      a threshold-filtered ANN result) — any frame with
      ``(id_a, id_b, sim)``; rows below ``threshold`` are dropped here
      so over-generating candidate sources stay correct.

    Same component semantics as ``connected_components`` (hash-min
    label propagation, loud non-convergence)."""
    if candidate_pairs is None:
        from solana_snapshot_etl_tools_spark.operators.similarity import (
            cosine_pairs,
        )

        candidate_pairs = cosine_pairs(
            emb, id_col=id_col, vec_col=vec_col, threshold=threshold
        )
    pairs = candidate_pairs.filter(F.col("sim") > threshold).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    return connected_components(
        pairs, emb, id_col, max_iter=max_iter, prefer_col=prefer_col
    )


def soft_dedup_weights(
    df: DataFrame,
    id_col: str,
    text_col: str | None = None,
    *,
    decisions: DataFrame | None = None,
    alpha: float = 1.0,
) -> DataFrame:
    """SOFT dedup: per-doc sampling weight from duplicate-family size
    instead of a hard drop — ``(id, family_size, weight)`` with
    ``weight = family_size ** -alpha``.

    Hard dedup throws information away: near-duplicate families often
    mark IMPORTANT content (boilerplate aside, popular pages are
    re-crawled and mirrored), and epoch-level training work (e.g.
    data-constrained scaling) wants duplicates DOWN-WEIGHTED, not
    dropped. ``alpha=1`` gives every family total weight 1 (a sampler
    drawing by weight sees each distinct content once per epoch in
    expectation — the soft equivalent of hard dedup); ``alpha=0``
    disables reweighting; intermediate values temper between the two.

    Family definition is pluggable, matching the module's two shapes:

    - ``text_col``: EXACT families (the ``exact_dedup_groups`` hash) —
      one hash groupBy, no text shuffle;
    - ``decisions``: a near-dup DECISION table (``(id_col, keep_id)``
      from ``connected_components`` / ``semantic_dedup`` /
      ``minhash_lsh_pairs``-fed components) — families are the
      components, so the weights see through paraphrase-level
      duplication exact hashing cannot.

    Exactly one of the two must be given. Weights join back on the id
    (or hash) only — document text never rides the shuffle; output is
    one narrow row per input doc."""
    if (text_col is None) == (decisions is None):
        raise ValueError(
            "soft_dedup_weights takes exactly one of text_col (exact "
            "families) or decisions (a near-dup decision table)"
        )
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    if text_col is not None:
        h = F.xxhash64(F.col(text_col).cast("binary"))
        keyed = df.select(F.col(id_col), h.alias("_fam"))
    else:
        if "keep_id" not in decisions.columns:
            raise ValueError(
                f"decisions needs (id, keep_id), have {decisions.columns}"
            )
        keyed = decisions.select(
            F.col(id_col), F.col("keep_id").alias("_fam")
        )
    sizes = keyed.groupBy("_fam").agg(
        F.count(F.lit(1)).alias("family_size")
    )
    return (
        keyed.join(sizes, "_fam")
        .select(
            id_col,
            "family_size",
            F.pow(F.col("family_size").cast("double"), F.lit(-alpha)).alias(
                "weight"
            ),
        )
    )
