"""Perceptual-hash near-duplicate detection for media columns — the
image-dedup capability class of a training-data pipeline (VERDICT r5
item 8), built from the published pHash recipe (Zauner, "Implementation
and Benchmarking of Perceptual Image Hash Functions", 2010; the
imagehash library's DCT variant is the de-facto spelling).

Pipeline shape, mirroring the text near-dup stack (`operators/dedup.py`
minhash → banded join → verify → components):

1. ``perceptual_hash``: blob → 64-bit pHash, one narrow Arrow-batched
   ``mapInPandas`` pass over the SAME decode tiers as
   ``operators/multimodal.py`` (fake container / stdlib WAV-BMP-PNG).
   Grayscale → area-pool to 32x32 → 2D DCT-II → top-left 8x8 → median
   threshold → packed bits. Brightness/contrast changes move the
   median with the coefficients, so the hash is stable under them;
   small pixel edits flip few bits.
2. ``phash_near_dup_pairs``: all pairs with Hamming distance <= d,
   WITHOUT a quadratic join — ``dedup.hamming_band_join``, the same
   banded 64-bit Hamming join SimHash uses (the pigeonhole band trick,
   the classic Hamming-space analog of LSH banding, e.g. Manku et
   al.'s simhash dedup, WWW'07 §3): split 64 bits into d+1 blocks; any
   pair within distance d agrees on >= 1 block, so an equi-join on
   (kind, block index, block value) finds every candidate, then
   ``bit_count(a XOR b) <= d`` verifies exactly — all JVM-side column
   expressions. Hot buckets (flat images hash alike) degrade to
   verified star pairs so no bucket is ever quadratic.
3. ``phash_dedup``: pairs → ``dedup.connected_components`` → the
   (media_id, keep_id) decision table, min-id canonical per family.

Scale notes: blobs never shuffle (hashing is a narrow map emitting 16
bytes/row); the banded self-join shuffles only (block, hash) longs;
at 100 TB of media the pair stage is the same bounded-bucket equi-join
the text pipeline already runs at that scale. Reference has no media
analog (text/accounts only) — this extends SURVEY §2's
training-pipeline additions.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from solana_snapshot_etl_tools_spark.operators.dedup import (
    connected_components,
    hamming_band_join,
    spread_small_input,
)
from solana_snapshot_etl_tools_spark.operators.multimodal import (
    _parse_with,
    _require_real_codec,
)

HASH_BITS = 64
DEFAULT_MAX_HAMMING = 8
PHASH_MAX_BUCKET = 512
# cap on the audio waveform-raster height: bounds per-row temporaries
# for arbitrarily long recordings (4096 x 32 doubles ~ 1 MB)
MAX_AUDIO_RASTER_ROWS = 4096

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("phash", T.LongType()),  # null = undecodable
    ]
)

_DCT_CACHE: dict[int, np.ndarray] = {}


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (rows are frequencies): the 2-D
    transform is ``M @ A @ M.T``."""
    m = _DCT_CACHE.get(n)
    if m is None:
        k = np.arange(n)[:, None]
        x = np.arange(n)[None, :]
        m = np.cos(np.pi / n * (x + 0.5) * k) * np.sqrt(2.0 / n)
        m[0] /= np.sqrt(2.0)
        _DCT_CACHE[n] = m
    return m


def _area_pool(a: np.ndarray, size: int) -> np.ndarray:
    """Exact area-average downsample to (size, size) via an integral
    image — deterministic, library-free resize. Inputs smaller than
    ``size`` are tiled up first so every output block is non-empty."""
    if a.shape[0] < size:
        a = np.repeat(a, -(-size // a.shape[0]), axis=0)
    if a.shape[1] < size:
        a = np.repeat(a, -(-size // a.shape[1]), axis=1)
    h, w = a.shape
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = a.cumsum(0).cumsum(1)
    ys = np.linspace(0, h, size + 1).astype(np.int64)
    xs = np.linspace(0, w, size + 1).astype(np.int64)
    sums = (
        ii[np.ix_(ys[1:], xs[1:])]
        - ii[np.ix_(ys[:-1], xs[1:])]
        - ii[np.ix_(ys[1:], xs[:-1])]
        + ii[np.ix_(ys[:-1], xs[:-1])]
    )
    areas = (ys[1:] - ys[:-1])[:, None] * (xs[1:] - xs[:-1])[None, :]
    return sums / areas


def _pack_bits(bits: np.ndarray) -> int:
    """64 bools → signed int64 (two's-complement wrap for LongType)."""
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return v - (1 << HASH_BITS) if v >= (1 << (HASH_BITS - 1)) else v


def _phash_of_raster(a: np.ndarray, hash_size: int, highfreq: int) -> int:
    size = hash_size * highfreq
    d = _dct_matrix(size)
    low = (d @ _area_pool(a, size) @ d.T)[:hash_size, :hash_size]
    med = np.median(low)
    return _pack_bits((low > med).flatten())


def _gray_raster(m: dict) -> np.ndarray | None:
    """Decoded payload → 2-D float grayscale raster, or None when the
    payload has no 2-D interpretation we hash."""
    fmt, p = m["format"], m["payload"]
    if fmt in ("fimg", "png"):
        w, h, c = m["width"], m["height"], m["channels"]
        return (
            np.frombuffer(p, np.uint8).astype(np.float64).reshape(h, w, c).mean(2)
        )
    if fmt == "bmp":
        w, h, c = m["width"], m["height"], m["channels"]
        stride = (w * c + 3) // 4 * 4  # rows are 4-byte padded
        a = np.frombuffer(p, np.uint8).reshape(h, stride)[:, : w * c]
        a = a.astype(np.float64).reshape(h, w, c).mean(2)
        # bottom-up rows (the default) flip so a PNG/BMP pair of the
        # same image hashes identically; top-down BMPs (negative
        # height in the header) are already in display order
        return a if m.get("top_down") else a[::-1]
    if fmt == "fvid":
        # first frame: a thumbnail-level identity proxy (per-frame
        # hashing composes sample_frames with the image path instead)
        w, h = m["width"], m["height"]
        return np.frombuffer(p[: w * h], np.uint8).astype(np.float64).reshape(h, w)
    if fmt in ("faud", "wav"):
        # waveform-raster hash: the |amplitude| envelope pooled onto a
        # square grid, then the same DCT path — median thresholding
        # makes it gain-invariant, block pooling makes it robust to
        # small edits (NOT a chromaprint; a deterministic stand-in
        # with the same column contract)
        s = np.frombuffer(p[: len(p) // 2 * 2], "<i2").astype(np.float64)
        if s.size == 0:
            return None
        side = 32
        # bound the raster BEFORE building it: a long recording would
        # otherwise become an O(n_samples) float64 raster + integral
        # image in one task (the unbounded-temporary class the text
        # pipeline's segment caps exist to prevent). Block-mean the
        # envelope down to <= MAX_AUDIO_RASTER_ROWS rows first —
        # exact-mean pooling composed with _area_pool's pooling, so
        # short clips hash identically to before.
        env = np.abs(s)
        max_rows = MAX_AUDIO_RASTER_ROWS
        if env.size > max_rows * side:
            blk = -(-env.size // (max_rows * side))
            pad = (-env.size) % blk
            if pad:
                env = np.pad(env, (0, pad), mode="edge")
            env = env.reshape(-1, blk).mean(1)
        return env[: env.size // side * side].reshape(-1, side) if (
            env.size >= side
        ) else env[None, :]
    return None


def perceptual_hash(
    media: DataFrame,
    codec: str = "fake",
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> DataFrame:
    """(media_id, kind, blob) → (media_id, kind, phash) — 64-bit DCT
    perceptual hash; undecodable blobs yield a null hash
    (skip-not-fail, survey L1)."""
    if codec not in ("fake", "std"):
        _require_real_codec(codec)
    if hash_size * hash_size != HASH_BITS:
        raise ValueError("hash_size**2 must equal 64 (LongType packing)")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, blob in pdf[["media_id", "kind", "blob"]].itertuples(
                index=False
            ):
                m = _parse_with(codec, blob)
                raster = _gray_raster(m) if m is not None else None
                rows.append(
                    (
                        mid,
                        kind,
                        None
                        if raster is None
                        else _phash_of_raster(raster, hash_size, highfreq_factor),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "kind", "phash"])

    return spread_small_input(media).mapInPandas(run, PHASH_SCHEMA)


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    phash_col: str = "phash",
    max_hamming: int = DEFAULT_MAX_HAMMING,
    max_bucket_size: int | None = PHASH_MAX_BUCKET,
) -> DataFrame:
    """Every pair with ``hamming(phash_a, phash_b) <= max_hamming`` —
    exact (the pigeonhole block join has full recall; ``bit_count``
    gives exact precision), columns (doc_a, doc_b, hamming), except
    inside hot buckets where only rep-member pairs are emitted (the
    star approximation; families stay one component).

    When the input carries a ``kind`` column, pairing is restricted to
    EQUAL kinds: a flat image and a silent audio clip both hash to 0,
    and without the restriction they would merge into one family and
    one of them would be "deduplicated" away."""
    kind = ["kind"] if "kind" in hashes.columns else []
    return hamming_band_join(
        hashes.select(
            F.col(id_col).alias("doc"), F.col(phash_col).alias("hash"), *kind
        ),
        max_hamming,
        group_cols=tuple(kind),
        max_bucket_size=max_bucket_size,
    )


def phash_dedup(
    media: DataFrame,
    codec: str = "fake",
    max_hamming: int = DEFAULT_MAX_HAMMING,
    max_bucket_size: int | None = PHASH_MAX_BUCKET,
    prefer_col: str | None = None,
) -> DataFrame:
    """Media frame → (media_id, keep_id) decision table: perceptually
    near-duplicate families collapse to their min id; undecodable rows
    keep themselves (they cannot be conflated with anything).

    ``prefer_col`` (a column of ``media``; higher = better, NULL =
    worst, ties by min id) elects the family's canonical by quality
    instead — for images the natural choice is resolution or byte
    size (a thumbnail and its original phash-collide by design, and
    the keeper should be the original, not the lower id). Same
    post-pass election as ``dedup.connected_components``; the default
    path is unchanged."""
    hashes = perceptual_hash(media, codec=codec)
    pairs = phash_near_dup_pairs(
        hashes, max_hamming=max_hamming, max_bucket_size=max_bucket_size
    )
    cols = ["media_id"] if prefer_col is None else ["media_id", prefer_col]
    return connected_components(
        pairs, media.select(*cols), "media_id", prefer_col=prefer_col
    )


FRAME_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("phash", T.LongType()),
    ]
)


def perceptual_hash_frames(
    media: DataFrame,
    every_k: int = 1,
    codec: str = "fake",
    hash_size: int = 8,
    highfreq_factor: int = 4,
) -> DataFrame:
    """Per-frame pHash for videos: every k-th frame → (media_id,
    frame_idx, phash), the same DCT path as still images, exploded
    inside the batch iterator like ``multimodal.sample_frames`` (one
    input row → n output rows without a frame column)."""
    if codec not in ("fake", "std"):
        _require_real_codec(codec)
    if every_k < 1:
        raise ValueError(f"every_k must be >= 1, got {every_k}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, blob in pdf[["media_id", "kind", "blob"]].itertuples(
                index=False
            ):
                if kind != "video":
                    continue
                m = _parse_with(codec, blob)
                if m is None or m["format"] != "fvid":
                    continue
                w, h = m["width"], m["height"]
                fsize = w * h
                for idx in range(0, m["n_frames"], every_k):
                    frame = np.frombuffer(
                        m["payload"][idx * fsize : (idx + 1) * fsize], np.uint8
                    ).astype(np.float64).reshape(h, w)
                    rows.append(
                        (mid, idx, _phash_of_raster(frame, hash_size, highfreq_factor))
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "phash"])

    return spread_small_input(media).mapInPandas(run, FRAME_PHASH_SCHEMA)


def _video_frame_matches(
    frame_hashes: DataFrame,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Cross-video frame matches within ``max_hamming``: (media_a,
    frame_a, media_b, frame_b), media_a < media_b — the shared core of
    the pair counter and the temporal aligner. Frames join as
    (media_id, frame_idx) structs: struct order puts doc_a < doc_b
    first by media_id, so dropping same-video pairs leaves exactly
    media_a < media_b."""
    matched = hamming_band_join(
        frame_hashes.select(
            F.struct("media_id", "frame_idx").alias("doc"),
            F.col("phash").alias("hash"),
        ),
        max_hamming,
        max_bucket_size=max_bucket_size,
    )
    return matched.filter(
        F.col("doc_a.media_id") != F.col("doc_b.media_id")
    ).select(
        F.col("doc_a.media_id").alias("media_a"),
        F.col("doc_a.frame_idx").alias("frame_a"),
        F.col("doc_b.media_id").alias("media_b"),
        F.col("doc_b.frame_idx").alias("frame_b"),
    )


def video_near_dup_pairs(
    frame_hashes: DataFrame,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    min_shared_frames: int = 3,
    max_bucket_size: int | None = PHASH_MAX_BUCKET,
) -> DataFrame:
    """Video pairs sharing perceptually-near frames: (media_a, media_b,
    shared_frames) where ``shared_frames`` counts media_a's DISTINCT
    frames that match some frame of media_b within ``max_hamming`` —
    re-encodes/re-containers of the same footage share most sampled
    frames; unrelated videos share none. Input is
    ``perceptual_hash_frames`` output. Frames are identified by the
    (media_id, frame_idx) struct through the same pigeonhole block
    join, so no id-packing bound is imposed on media_id."""
    matched = _video_frame_matches(frame_hashes, max_hamming, max_bucket_size)
    return (
        matched.groupBy("media_a", "media_b")
        .agg(F.countDistinct("frame_a").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )


# bound on the per-pair match list the aligner materializes in one
# task: a degenerate pair (every frame matching every frame — e.g.
# two long flat videos) would otherwise build an O(na*nb) row array
MAX_ALIGN_MATCHES = 1 << 17


def video_temporal_alignment(
    frame_hashes: DataFrame,
    max_hamming: int = DEFAULT_MAX_HAMMING,
    min_shared_frames: int = 3,
    max_bucket_size: int | None = PHASH_MAX_BUCKET,
) -> DataFrame:
    """Temporal consistency of a video pair's shared frames:
    (media_a, media_b, shared_frames, aligned_frames) where
    ``aligned_frames`` is the longest chain of frame matches strictly
    increasing in BOTH videos' timelines (classic 2-D LIS: sort by
    (frame_a asc, frame_b desc), patience-LIS on frame_b). A
    re-encode keeps temporal order, so aligned ≈ shared; a slideshow
    that merely REUSES the same stills in a different order shares
    frames but aligns few — the signal that separates "same footage"
    from "same assets".

    Per-pair match lists are truncated at ``MAX_ALIGN_MATCHES``
    BEFORE aggregation (a spill-safe ``row_number`` window over the
    pair, not a post-``collect_list`` slice — a degenerate
    all-frames-match pair would otherwise materialize the full
    O(na*nb) array inside the aggregation buffer of one task);
    ``shared_frames`` is still counted over the UNtruncated matches.
    The LIS is an O(n log n) pass per pair inside an Arrow-batched
    UDF. A truncated pair's ``aligned_frames`` is a lower bound."""
    from pyspark.sql import Window as W

    matched = _video_frame_matches(frame_hashes, max_hamming, max_bucket_size)
    shared = (
        matched.groupBy("media_a", "media_b")
        .agg(F.countDistinct("frame_a").alias("shared_frames"))
        .filter(F.col("shared_frames") >= min_shared_frames)
    )
    bounded = matched.withColumn(
        "_rn",
        F.row_number().over(
            W.partitionBy("media_a", "media_b").orderBy("frame_a", "frame_b")
        ),
    ).filter(F.col("_rn") <= MAX_ALIGN_MATCHES)
    lists = shared.join(
        bounded.groupBy("media_a", "media_b").agg(
            F.sort_array(
                F.collect_list(F.struct("frame_a", "frame_b"))
            ).alias("_ms"),
            # the dominant temporal offset (mode of frame_b - frame_a):
            # a trimmed/delayed re-encode aligns at a constant shift —
            # the offset localizes WHERE the shared footage sits.
            # deterministic=True: ties resolve to the lowest offset so
            # the column is reproducible across runs/partitionings
            F.mode(F.col("frame_b") - F.col("frame_a"), True).alias(
                "offset"
            ),
        ),
        ["media_a", "media_b"],
    )

    @F.pandas_udf("int")
    def lis_len(ms: pd.Series) -> pd.Series:
        import bisect

        out = []
        for pairs in ms:
            # strictly-increasing-in-both chain: sort (fa asc, fb
            # desc) so equal-fa matches can't chain, then LIS on fb
            seq = sorted(
                ((p["frame_a"], p["frame_b"]) for p in pairs),
                key=lambda t: (t[0], -t[1]),
            )
            tails: list[int] = []
            for _, fb in seq:
                i = bisect.bisect_left(tails, fb)
                if i == len(tails):
                    tails.append(fb)
                else:
                    tails[i] = fb
            out.append(len(tails))
        return pd.Series(out, dtype="int32")

    return lists.select(
        "media_a",
        "media_b",
        "shared_frames",
        lis_len("_ms").alias("aligned_frames"),
        "offset",
    )


# ship by value for worker-side decode (see _pickle.py)
from solana_snapshot_etl_tools_spark._pickle import register_self as _rs  # noqa: E402

_rs(__name__)
