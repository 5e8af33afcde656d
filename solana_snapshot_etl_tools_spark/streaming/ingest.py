"""Streaming shard ingestion — incremental dedup as a Structured
Streaming stage.

The batch story (`operators/incremental.py`) dedups each arriving
shard against a persisted index and appends the survivors; this
module runs the SAME operators under ``foreachBatch``, so a directory
(or Kafka topic, on a cluster with the jar) of incoming shards becomes
a continuously deduplicated corpus:

    per micro-batch:  read the PRIOR batches' index → flag batch vs
    index AND earlier rows of the batch → write kept docs + their
    index/signature entries under this batch's partition → next batch
    sees them.

Micro-batch boundaries serialize the index read-modify-write, which
is exactly the loop-closure contract ``kept_index_rows`` documents —
no concurrent-writer coordination is needed because Structured
Streaming already guarantees one batch at a time per query.

Replay idempotence (foreachBatch is at-least-once): every output —
corpus, index, signatures, bloom sidecar — is partitioned by
``batch`` and written with DYNAMIC partition overwrite, and the flags
are computed against strictly PRIOR batches (``batch < batch_id``). A
replayed batch therefore recomputes the identical decision from the
identical prior state and rewrites exactly its own partitions, no
matter where the previous attempt died between the four writes — a
crash between writes can neither duplicate documents nor lose them
(pinned by ``test_streaming_ingestion_replay_is_idempotent``). This is
strictly stronger than the reference's fire-and-forget delivery
(SURVEY ST6).

The bloom sidecar (``operators/bloom.py``) accelerates each batch's
exact probe map-side. It is USED only when its batch coverage equals
the index's (``_prior_bloom``): a sidecar missing an index batch —
a pre-sidecar store upgraded mid-stream — would answer "definitely
absent" for keys it never saw and silently skip real duplicates, so
unequal coverage disables it (unaccelerated, never wrong).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from solana_snapshot_etl_tools_spark.operators.incremental import (
    build_index,
    dedup_against_index,
    kept_index_rows,
    kept_signature_rows,
    signature_table,
)
from solana_snapshot_etl_tools_spark.session import (
    checkpoint_for_session,
    release_session_caches,
)


def _read_prior(spark, path: str, batch_id: int, mk_empty):
    """The path's contents from batches strictly before ``batch_id``,
    or the empty frame on genuine PATH_NOT_FOUND (first batch) and on
    UNABLE_TO_INFER_SCHEMA (the directory holds no data files because
    every earlier batch kept zero documents). Any OTHER read failure —
    permissions, corrupt footer, transient FS — raises: treating it as
    "empty corpus" would silently ingest every duplicate in the batch
    and poison all later batches."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException as e:
        cls = ""
        try:
            cls = e.getCondition() or ""
        except Exception:
            pass
        if (
            "PATH_NOT_FOUND" in cls
            or "UNABLE_TO_INFER_SCHEMA" in cls
            or "Path does not exist" in str(e)
        ):
            return mk_empty()
        raise
    return df.filter(F.col("batch") < batch_id).drop("batch")


def _prior_batches(spark, path: str, batch_id: int) -> set | None:
    """Distinct prior batch ids under a batch-partitioned path, or
    None when the path does not exist (partition-column listing — no
    data files read)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(path)
    except AnalysisException:
        return None
    if "batch" not in df.columns:
        # not a batch-partitioned store (e.g. a batch-mode index_bloom
        # output under the same root): report "no coverage info" so
        # the caller's coverage guard disables the accelerator instead
        # of crashing the micro-batch on an unresolved-column error
        return None
    return {
        r.batch
        for r in df.filter(F.col("batch") < batch_id)
        .select("batch")
        .distinct()
        .collect()
    }


def _prior_bloom(spark, index_dir: str, batch_id: int):
    """The bloom sidecar over PRIOR batches — used only when its
    batch coverage equals the index's. A sidecar missing some index
    batch (a store created before the sidecar existed, then upgraded
    mid-stream) would answer "definitely absent" for keys it never
    saw and silently skip real duplicates; unequal coverage therefore
    disables the filter (the probe is merely unaccelerated — never
    wrong)."""
    bb = _prior_batches(spark, f"{index_dir}/bloom", batch_id)
    if bb is None:
        return None
    ib = _prior_batches(spark, f"{index_dir}/index", batch_id)
    if ib is None or bb != ib:
        return None
    return spark.read.parquet(f"{index_dir}/bloom").filter(
        F.col("batch") < batch_id
    ).drop("batch")


# default sizing for the stream loop's bloom sidecar: ~10M keys at
# 1% fpp is a ~12 MB closure — callers ingesting toward a larger
# corpus pass their own target through ingest_dedup_stream
BLOOM_EXPECTED_ITEMS = 10_000_000


def process_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    corpus_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    drop_near_candidates: bool = False,
    bloom_expected_items: int = BLOOM_EXPECTED_ITEMS,
) -> None:
    """One micro-batch of the ingestion loop — public so the replay
    contract is directly testable: calling this twice with the same
    (batch_df, batch_id) must leave corpus/index/sigs/bloom identical."""
    from solana_snapshot_etl_tools_spark.operators.bloom import (
        bloom_build,
    )

    spark = batch_df.sparkSession
    index = _read_prior(
        spark,
        f"{index_dir}/index",
        batch_id,
        lambda: build_index(batch_df.limit(0), id_col, text_col),
    )
    sigs = _read_prior(
        spark,
        f"{index_dir}/sigs",
        batch_id,
        lambda: signature_table(batch_df.limit(0), id_col, text_col),
    )
    bloom = _prior_bloom(spark, index_dir, batch_id)
    # MATERIALIZE the flags before any write: flagged's lazy plan
    # READS index/sigs — paths this batch writes to. A merely
    # persisted frame can be silently recomputed (cache eviction, a
    # later action) AGAINST THE POST-WRITE state, where every kept doc
    # is now its own index hit → dup_exact → the write sees zero rows
    # (observed: the signature write after the index write).
    # localCheckpoint severs the file-source lineage, so every
    # downstream write reads this batch's materialized decision — or
    # fails loudly, never silently recomputes against moved state.
    flagged = checkpoint_for_session(
        dedup_against_index(
            batch_df,
            index,
            old_sigs=sigs,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            bloom=bloom,
        )
    )
    try:
        keep = ~F.col("dup_exact")
        if drop_near_candidates:
            keep = keep & ~F.col("dup_near_candidate")
        kept = flagged.filter(keep).drop("dup_exact", "dup_near_candidate")

        def write_batch(df, path, extra_parts=()):
            # dynamic partition overwrite keyed by batch id = the
            # idempotent foreachBatch write: a replay rewrites exactly
            # its own partitions
            (
                df.withColumn("batch", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch", *extra_parts)
                .parquet(path)
            )

        write_batch(kept, corpus_dir)
        # sketch the survivors ONCE: the signature frame feeds both
        # the signature write and the index's band rows
        ksigs = kept_signature_rows(
            flagged,
            id_col,
            text_col,
            drop_near_candidates=drop_near_candidates,
        ).persist()
        try:
            write_batch(
                kept_index_rows(
                    flagged,
                    id_col,
                    text_col,
                    drop_near_candidates=drop_near_candidates,
                    sig=ksigs,
                ),
                f"{index_dir}/index",
                extra_parts=("band",),
            )
            write_batch(ksigs, f"{index_dir}/sigs")
        finally:
            ksigs.unpersist()
        # this batch's bloom sidecar partial over the kept docs' exact
        # keys — the SAME (m, k) as any existing sidecar rows (mixed
        # parameters would corrupt the OR-assembly), else sized fresh.
        # Batch-partitioned dynamic overwrite like every other output:
        # a replay rewrites exactly its own partial
        from pyspark.errors import AnalysisException

        keys = kept.select(F.xxhash64(text_col).alias("key"))
        mk = None
        try:
            row1 = (
                spark.read.parquet(f"{index_dir}/bloom")
                .select("m_bits", "n_hashes")
                .first()
            )
            if row1 is not None:
                mk = (int(row1.m_bits), int(row1.n_hashes))
        except AnalysisException:
            pass
        partial = (
            bloom_build(keys, "key", m_bits=mk[0], n_hashes=mk[1])
            if mk is not None
            else bloom_build(
                keys, "key", expected_items=bloom_expected_items
            )
        )
        write_batch(partial, f"{index_dir}/bloom")
        # the session-level FileStatusCache serves STALE listings for
        # a path written to in the same session — without an explicit
        # refresh, the NEXT batch's index/sigs read (and any
        # same-session reader of the corpus) silently misses this
        # batch's files
        for p in (
            f"{index_dir}/index",
            f"{index_dir}/sigs",
            f"{index_dir}/bloom",
            corpus_dir,
        ):
            spark.catalog.refreshByPath(p)
    finally:
        release_session_caches()


def ingest_dedup_stream(
    shards: DataFrame,
    index_dir: str,
    corpus_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    drop_near_candidates: bool = False,
    available_now: bool = False,
    bloom_expected_items: int = BLOOM_EXPECTED_ITEMS,
):
    """Start the ingestion query over a streaming ``shards`` frame.
    ``index_dir`` holds ``index/`` (partitioned by (batch, band)) and
    ``sigs/`` (by batch); the corpus is partitioned by batch — the
    ``batch`` column doubles as provenance. All three are created by
    the first batch (an absent index is the empty corpus —
    ``build_index`` of zero rows supplies the schema), so no separate
    bootstrap step exists. Returns the StreamingQuery."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        process_ingest_batch(
            batch_df,
            batch_id,
            index_dir,
            corpus_dir,
            id_col=id_col,
            text_col=text_col,
            threshold=threshold,
            drop_near_candidates=drop_near_candidates,
            bloom_expected_items=bloom_expected_items,
        )

    writer = (
        shards.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
