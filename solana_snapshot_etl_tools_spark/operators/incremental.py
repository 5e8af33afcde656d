"""Incremental dedup for shard ingestion — dedup NEW documents against
an already-deduplicated corpus without ever re-reading it.

At 100 TB the corpus is deduplicated once; every later shard must be
checked against it. Re-running full-corpus dedup per shard is a
corpus-sized job; the right shape is a persisted INDEX (compact rows,
tens of bytes per doc, ~1000x smaller than the text) that new shards
probe with equi-joins:

- ``build_index(docs)`` -> (doc, band, key) rows: ``band = -1`` holds
  ``xxhash64`` of the text (exact identity), bands ``0..B-1`` hold the
  minhash LSH band hashes via ``dedup.banded_signature_rows`` — the
  one canonical banding spelling, so an index built yesterday probes
  identically today. Persist partitioned/bucketed by ``(band, key)``
  for co-located, key-pruned probes.
- ``signature_table(docs)`` -> (doc, sig): the full minhash sketches
  (~512 B/doc), persisted beside the index. Optional but strongly
  recommended: with it the probe refines band collisions with the
  minhash agreement estimate, without it every bucket membership is a
  "candidate" — and on corpora with high background similarity that
  flags nearly everything (measured: 2500/2500 new docs on the
  synthetic corpus raw, vs the near-dup families only with sigs).
- ``dedup_against_index(new_docs, index, old_sigs=...)`` flags each
  new row: ``dup_exact`` (identical text already in the corpus or an
  earlier row of this shard — first-id wins, the already-kept copy
  stays canonical) and ``dup_near_candidate`` (estimated Jaccard >=
  threshold - 0.1 against a bucket witness when sigs are given; raw
  bucket membership otherwise). Candidates are FLAGGED, not dropped:
  the index cannot exact-verify Jaccard (old texts are not in it), so
  the caller chooses drop-aggressive or verify-with-a-targeted-fetch.
- ``kept_index_rows`` / ``kept_signature_rows`` close the loop:
  ``index' = index UNION kept``.

Buckets up to ``witnesses_per_bucket`` (default 512, matching
``dedup.MINHASH_MAX_BUCKET``) estimate against EVERY member — the
recall-preserving path, identical to the full pipeline's bounded
bucket joins. Only genuinely hot buckets degrade to their min-id
members, the same approximation ``_cap_hot_buckets``' "star" mode
makes; the exact probes are semi-joins/groupBys (no pair lists at
all).

64-bit exact keys: two distinct texts colliding on xxhash64 false-drop
one unique doc; expected collisions are ``n^2 / 2^65`` (~3 docs at
n = 10^10) — the same bounded-loss argument as ``operators/excise.py``
window hashing. ``exact_dedup`` keeps md5 for the one-shot path where
the wider key is free; the index trades that for 8-byte probe keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from solana_snapshot_etl_tools_spark.operators.dedup import (
    LSH_BANDS,
    N_HASHES,
    banded_signature_rows,
    minhash_signatures,
)
from solana_snapshot_etl_tools_spark.session import cache_for_session

EXACT_BAND = -1
# same bound and philosophy as dedup.MINHASH_MAX_BUCKET: buckets up to
# this size estimate against EVERY member (the recall-preserving path);
# only genuinely hot buckets (boilerplate families / banding
# collisions) degrade to their min-id members — the identical
# approximation the full pipeline's "star" hot-bucket mode makes
WITNESSES_PER_BUCKET = 512


def signature_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(doc, sig) minhash sketches to persist beside the index —
    enables estimate-refined near-dup probes."""
    return minhash_signatures(docs, id_col, text_col, k=k, n_hashes=n_hashes)


def build_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The persistable dedup index of an (already deduplicated)
    corpus: one exact-hash row (band = -1) per doc plus one row per
    LSH band. ~ (bands + 1) x 20 bytes per doc.

    ``sig``: a precomputed ``signature_table(docs)`` frame. Callers
    persisting BOTH the index and the signature table should compute
    the signatures once, cache them, and pass them here — otherwise
    the CPU-heavy sketch pass over all text runs twice."""
    exact = docs.select(
        F.col(id_col).alias("doc"),
        F.lit(EXACT_BAND).alias("band"),
        F.xxhash64(text_col).alias("key"),
    )
    if sig is None:
        sig = minhash_signatures(docs, id_col, text_col, k=k, n_hashes=n_hashes)
    return exact.unionByName(
        banded_signature_rows(sig, bands, n_hashes, key_name="key")
    )


def _est_ok(threshold: float):
    """Minhash positional-agreement estimate >= threshold - 0.1 — the
    same recall-preserving pre-filter ``minhash_lsh_pairs`` applies
    before its exact verify (array_intersect is valid because every
    position is salted with a different family member)."""
    agree = F.size(F.array_intersect("sig_a", "sig_b"))
    return (agree / F.size("sig_a")) >= threshold - 0.1


def _flag(df: DataFrame, name: str) -> DataFrame:
    return df.select("doc").distinct().withColumn(name, F.lit(True))


def index_bloom(
    index: DataFrame,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """Bloom-filter sidecar over the index's EXACT keys
    (``operators/bloom.py``) — persist beside the index and pass to
    :func:`dedup_against_index` as ``bloom=`` so the shard's exact
    probe drops definite misses map-side before the key join ever
    shuffles. Size ``expected_items`` for the index the filter will
    GROW into when the store is append-maintained."""
    from solana_snapshot_etl_tools_spark.operators.bloom import bloom_build

    return bloom_build(
        index.filter(F.col("band") == EXACT_BAND).select("key"),
        "key",
        expected_items=expected_items,
        fpp=fpp,
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    *,  # keyword-only: the original public signature had id_col third
    old_sigs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    witnesses_per_bucket: int = WITNESSES_PER_BUCKET,
    k: int = 3,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    bloom: DataFrame | None = None,
    bloom_sharded_path: str | None = None,
) -> DataFrame:
    """Flag each new row with ``dup_exact`` / ``dup_near_candidate``
    (vs the corpus index AND earlier rows of this shard); all input
    columns pass through. Docs shorter than the shingle width get no
    sketch (like the sketch itself) and can only match exactly.

    With ``old_sigs`` (from ``signature_table``, persisted beside the
    index) the near flag means: minhash-estimated Jaccard >=
    ``threshold - 0.1`` against a member of a shared bucket (every
    member for buckets <= ``witnesses_per_bucket``; min-id members
    for hot buckets — the star-mode approximation, see module doc).
    Without it the flag degrades to raw bucket membership — high
    recall, but on high-background-similarity corpora it can flag
    nearly everything (see module doc).

    Scale shape: the shard is sketched ONCE (cached via the session
    cache registry — call ``session.release_session_caches()`` at a
    query boundary); exact probes are semi-joins/groupBys; near probes
    join the shard's band rows against witness-capped index rows and
    estimate on fixed-width sketch arrays — no shuffle ever carries
    document text, and no stage is quadratic in a bucket's size."""
    sig_new = cache_for_session(
        minhash_signatures(new_docs, id_col, text_col, k=k, n_hashes=n_hashes)
    )
    band_new = cache_for_session(
        banded_signature_rows(sig_new, bands, n_hashes, key_name="key")
    )
    exact_new = cache_for_session(
        new_docs.select(
            F.col(id_col).alias("doc"), F.xxhash64(text_col).alias("key")
        )
    )

    # --- exact flags ---------------------------------------------------------
    # with a bloom sidecar (index_bloom), definite misses never reach
    # the key join: the membership test is map-side, false positives
    # only add join rows, and false negatives cannot occur — the flag
    # set is IDENTICAL with and without the filter (pinned by test)
    probe = exact_new
    if bloom is not None and bloom_sharded_path is not None:
        raise ValueError(
            "pass one of bloom (chunk-row frame) or bloom_sharded_path "
            "(a bloom_build_sharded store), not both"
        )
    if bloom is not None:
        from solana_snapshot_etl_tools_spark.operators.bloom import (
            bloom_might_contain,
        )

        probe = (
            bloom_might_contain(exact_new, bloom, "key", "_mc")
            .filter(F.col("_mc"))
            .drop("_mc")
        )
    elif bloom_sharded_path is not None:
        # the past-closure-cap spelling: each task loads only its key
        # shards from the store (partition-pruned, executor-side)
        from solana_snapshot_etl_tools_spark.operators.bloom import (
            bloom_might_contain_sharded,
        )

        probe = (
            bloom_might_contain_sharded(
                exact_new, bloom_sharded_path, "key", "_mc"
            )
            .filter(F.col("_mc"))
            .drop("_mc")
        )
    ex_old = _flag(
        probe.join(
            index.filter(F.col("band") == EXACT_BAND).select("key").distinct(),
            "key",
            "left_semi",
        ),
        "_ex_old",
    )
    ex_firsts = exact_new.groupBy("key").agg(F.min("doc").alias("_first"))
    ex_new = _flag(
        exact_new.join(ex_firsts, "key").filter(F.col("doc") != F.col("_first")),
        "_ex_new",
    )

    # --- near flags ----------------------------------------------------------
    old_bands = index.filter(F.col("band") != EXACT_BAND)
    if old_sigs is None:
        nd_old = _flag(
            band_new.join(
                old_bands.select("band", "key").distinct(), ["band", "key"], "left_semi"
            ),
            "_nd_old",
        )
        nd_firsts = band_new.groupBy("band", "key").agg(F.min("doc").alias("_first"))
        nd_new = _flag(
            band_new.join(nd_firsts, ["band", "key"]).filter(
                F.col("doc") != F.col("_first")
            ),
            "_nd_new",
        )
    else:
        rn = F.row_number().over(W.partitionBy("band", "key").orderBy("doc"))
        # prune the index to the shard's buckets BEFORE the witness
        # window — otherwise the row_number sorts the ENTIRE index on
        # every probe instead of only the touched (band, key) groups
        touched = old_bands.join(
            band_new.select("band", "key").distinct(), ["band", "key"], "left_semi"
        )
        wit_old = (
            touched.withColumn("_rn", rn)
            .filter(F.col("_rn") <= witnesses_per_bucket)
            .select("band", "key", F.col("doc").alias("wdoc"))
        )
        sa = sig_new.select(F.col("doc").alias("cdoc"), F.col("sig").alias("sig_a"))
        so = old_sigs.select(F.col("doc").alias("wdoc"), F.col("sig").alias("sig_b"))
        nd_old = _flag(
            band_new.join(wit_old, ["band", "key"])
            .select(F.col("doc").alias("cdoc"), "wdoc")
            .distinct()
            .join(sa, "cdoc")
            .join(so, "wdoc")
            .filter(_est_ok(threshold))
            .select(F.col("cdoc").alias("doc")),
            "_nd_old",
        )
        wit_new = (
            band_new.withColumn("_rn", rn)
            .filter(F.col("_rn") <= witnesses_per_bucket)
            .select("band", "key", F.col("doc").alias("wdoc"))
        )
        sn = sig_new.select(F.col("doc").alias("wdoc"), F.col("sig").alias("sig_b"))
        nd_new = _flag(
            band_new.join(wit_new, ["band", "key"])
            .filter(F.col("wdoc") < F.col("doc"))
            .select(F.col("doc").alias("cdoc"), "wdoc")
            .distinct()
            .join(sa, "cdoc")
            .join(sn, "wdoc")
            .filter(_est_ok(threshold))
            .select(F.col("cdoc").alias("doc")),
            "_nd_new",
        )

    flags = new_docs
    for f in (ex_old, ex_new, nd_old, nd_new):
        flags = flags.join(f.withColumnRenamed("doc", id_col), id_col, "left")
    return flags.select(
        *new_docs.columns,
        (
            F.coalesce("_ex_old", F.lit(False)) | F.coalesce("_ex_new", F.lit(False))
        ).alias("dup_exact"),
        (
            F.coalesce("_nd_old", F.lit(False)) | F.coalesce("_nd_new", F.lit(False))
        ).alias("dup_near_candidate"),
    )


def _kept(flagged: DataFrame, drop_near_candidates: bool) -> DataFrame:
    keep = ~F.col("dup_exact")
    if drop_near_candidates:
        keep = keep & ~F.col("dup_near_candidate")
    return flagged.filter(keep).drop("dup_exact", "dup_near_candidate")


def kept_index_rows(
    flagged: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
    bands: int = LSH_BANDS,
    drop_near_candidates: bool = False,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Index rows for the shard's survivors — append to the persisted
    index (``index.unionByName(kept)``) to keep the loop closed.
    ``drop_near_candidates=True`` is the aggressive policy; the
    default keeps candidates in the corpus and the index. ``sig``: a
    cached ``kept_signature_rows`` frame for the SAME policy, to avoid
    re-sketching (see ``build_index``)."""
    return build_index(
        _kept(flagged, drop_near_candidates),
        id_col,
        text_col,
        k=k,
        n_hashes=n_hashes,
        bands=bands,
        sig=sig,
    )


def kept_signature_rows(
    flagged: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
    drop_near_candidates: bool = False,
) -> DataFrame:
    """Signature rows for the shard's survivors — append to the
    persisted signature table when using estimate-refined probes."""
    return signature_table(
        _kept(flagged, drop_near_candidates), id_col, text_col, k=k, n_hashes=n_hashes
    )


def compact_parquet_dir(
    spark,
    path: str,
    parts: list[str],
    rows_per_file: int | None = None,
) -> tuple[int, int, int]:
    """The count-verified compact-and-swap core shared by
    :func:`compact_index` and ``profile.compact_profile_store``:
    rewrite ``path`` to ~one file per ``parts`` partition (or
    ``rows_per_file``-sized files when ``parts`` is empty) in a temp
    dir, verify the row count, then atomically swap. Returns
    ``(rows, files_before, files_after)``. A STREAM-written
    ``batch=N`` layout is auto-preserved even when the caller didn't
    name it — compacting it away would make the next dynamic-
    overwrite append create a conflicting partition scheme."""
    import glob as _glob
    import os
    import shutil
    import uuid

    parts = list(parts)
    if "batch" not in parts and _glob.glob(f"{path}/batch=*"):
        parts = ["batch"] + parts
        rows_per_file = None
    spark.catalog.refreshByPath(path)
    df = spark.read.parquet(path)
    before_files = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    n = df.count()
    if parts:
        # hash-repartition on the partition column: each partition
        # value lands wholly in one task -> one file per directory
        packed = df.repartition(*[F.col(c) for c in parts])
        writer = packed.write.partitionBy(*parts)
    else:
        n_files = max(1, -(-n // (rows_per_file or n or 1)))
        writer = df.repartition(n_files).write
    token = uuid.uuid4().hex[:8]
    tmp = f"{path}._compact.{token}"
    writer.mode("overwrite").parquet(tmp)
    check = spark.read.parquet(tmp).count()
    if check != n:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction of {path} would change row count "
            f"({n} -> {check}); source left untouched"
        )
    # crash-safe swap: the live data is never deleted before its
    # replacement is installed — a kill between the two renames
    # leaves the old data recoverable under ._old.*, never nothing
    old = f"{path}._old.{token}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(path)
    after_files = sum(
        1 for _r, _d, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )
    return n, before_files, after_files


def compact_index(
    spark,
    index_dir: str,
    sig_rows_per_file: int = 2_000_000,
) -> dict:
    """Compact an appended index store (``index_dir/index`` +
    ``index_dir/sigs``) in place: streaming ingestion appends a few
    small files per micro-batch, and after thousands of batches the
    probe pays file-listing + footer overhead per tiny file. Rewrites
    the index to ~one file per band partition and the signature table
    to ``sig_rows_per_file``-sized files.

    Safety: the rewrite lands in a temp dir and is COUNT-VERIFIED
    before the old directory is swapped out — a short write can never
    destroy index rows. The swap is an ``os.rename`` (atomic on a
    POSIX filesystem; on an object store use a table format with a
    manifest instead). Paths are ``refreshByPath``-ed on both sides of
    the swap — the session file-listing cache otherwise serves stale
    file sets for appended (or replaced) directories.
    """
    import os

    stats: dict[str, int] = {}
    jobs = [
        ("index", ["band"], None),
        ("sigs", [], sig_rows_per_file),
    ]
    # the stream loop's bloom sidecar accretes one small partial per
    # micro-batch; compact it to one file per batch partition. The
    # batch layout MUST survive: the coverage guard (_prior_bloom)
    # compares batch sets, and the per-batch dynamic-overwrite writer
    # keeps appending batch=N directories
    if os.path.isdir(f"{index_dir}/bloom"):
        jobs.append(("bloom", ["batch"], None))
    for sub, parts, rows_per_file in jobs:
        n, before_files, after_files = compact_parquet_dir(
            spark, f"{index_dir}/{sub}", parts, rows_per_file
        )
        stats[f"{sub}_rows"] = n
        stats[f"{sub}_files_before"] = before_files
        stats[f"{sub}_files_after"] = after_files
    return stats
