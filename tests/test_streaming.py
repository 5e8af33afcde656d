"""Structured Streaming tests (SURVEY.md §5 item 4): the ST1-ST5
pipelines driven as REAL streaming queries (file source, availableNow,
memory sink) must equal their batch replay on the same fixture."""

from __future__ import annotations

import pytest

from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.fixtures import (
    account_updates_df,
    build_fixture,
    slot_status_df,
)
from solana_snapshot_etl_tools_spark.streaming import geyser as G
from solana_snapshot_etl_tools_spark.streaming.sinks import run_available_now


@pytest.fixture(scope="module")
def updates_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("updates"))
    account_updates_df(spark).write.mode("overwrite").parquet(d)
    return d


@pytest.fixture(scope="module")
def slots_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("slots"))
    slot_status_df(spark).write.mode("overwrite").parquet(d)
    return d


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_account_stream_matches_batch(spark, updates_dir):
    owners = build_fixture()["selector_owners"]

    def pipe(df):
        return G.account_update_stream(df, owners, True, startup=False)

    streamed = run_available_now(spark, updates_dir, S.ACCOUNT_UPDATES_SCHEMA, pipe)
    batch = pipe(account_updates_df(spark))
    cols = ["key", "slot", "write_version", "lamports"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() > 0


def test_offchain_fanout_stream(spark, updates_dir):
    streamed = run_available_now(
        spark, updates_dir, S.ACCOUNT_UPDATES_SCHEMA, G.offchain_fanout_stream
    )
    batch = G.offchain_fanout_stream(account_updates_df(spark))
    assert _rows(streamed, ["key", "uri"]) == _rows(batch, ["key", "uri"])
    assert streamed.count() > 0


def test_rooted_slot_stream(spark, slots_dir):
    streamed = run_available_now(
        spark, slots_dir, S.SLOT_STATUS_SCHEMA, G.rooted_slot_stream
    )
    exp = {r[0] for r in build_fixture()["expected"]["stream_rooted_slots"][2]}
    assert {r.slot for r in streamed.collect()} == exp


def test_topic_routed_union_batch(spark):
    """K5 shape: five message types in one (topic, key, value) frame."""
    from solana_snapshot_etl_tools_spark.fixtures import (
        block_metadata_df,
        transactions_df,
    )

    fx = build_fixture()
    routed = G.routed_messages(
        account_updates_df(spark),
        slot_status_df(spark),
        block_metadata_df(spark),
        transactions_df(spark),
        owners=fx["selector_owners"],
        tx_programs=fx["tx_program_set"],
    )
    counts = {r.topic: r.n for r in routed.groupBy("topic").count().withColumnRenamed("count", "n").collect()}
    assert set(counts) == set(G.TOPICS.values())
    assert all(v > 0 for v in counts.values())
    # values are valid JSON
    import json

    for r in routed.limit(20).collect():
        json.loads(r.value)


def test_kafka_sink_dataframe_contract(spark):
    """K5 sink contract: Spark's Kafka DataSource (the jar this
    container cannot fetch — see COVERAGE.md 'Known gaps' for the
    recorded resolution failure) requires columns named exactly
    `topic` (string) and `value` (string|binary), with optional `key`.
    Pin that routed_messages emits that contract in both envelopes so
    write_kafka works unmodified wherever the jar exists, and that the
    frame survives the same writeStream path (foreachBatch stand-in)."""
    from solana_snapshot_etl_tools_spark.fixtures import (
        block_metadata_df,
        transactions_df,
    )

    fx = build_fixture()
    for wire in ("json", "flatbuffer"):
        routed = G.routed_messages(
            account_updates_df(spark),
            slot_status_df(spark),
            block_metadata_df(spark),
            transactions_df(spark),
            owners=fx["selector_owners"],
            tx_programs=fx["tx_program_set"],
            wire=wire,
        )
        fields = {f.name: f.dataType.simpleString() for f in routed.schema.fields}
        assert "topic" in fields and fields["topic"] == "string", fields
        assert "value" in fields and fields["value"] in ("string", "binary"), fields
        extra = set(fields) - {"topic", "key", "value", "headers", "partition"}
        assert not extra, f"columns the Kafka sink would reject: {extra}"


def test_windowed_watermark_stream(spark, updates_dir):
    """Additive capability beyond the reference: event-time tumbling
    count with watermark over the account-update stream."""
    from pyspark.sql import functions as F

    def pipe(df):
        ts = F.timestamp_seconds(F.col("slot") * 60)
        return (
            df.withColumn("ts", ts)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour"), "is_startup")
            .count()
            .select(F.col("window.start").alias("w"), "is_startup", "count")
        )

    streamed = run_available_now(spark, updates_dir, S.ACCOUNT_UPDATES_SCHEMA, pipe)
    # availableNow + watermark: final watermark passes all windows through
    assert streamed.count() > 0


def test_corpus_scrub_and_score_stream_matches_batch(spark, tmp_path_factory):
    """The LLM-corpus stateless stages (PII redaction, quality score,
    language ID, token count, deterministic split) are pure column
    expressions, so the SAME function must run unchanged under
    readStream — proven here with a real availableNow file-source
    query against its batch replay on the documents fixture."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.functions import text as TXT
    from solana_snapshot_etl_tools_spark.plans.llm_ops import _2_32, _knuth_h

    src = "/root/testdata/sf0.001/documents.parquet"
    schema = spark.read.parquet(src).schema
    d = str(tmp_path_factory.mktemp("docs_stream"))
    spark.read.parquet(src).write.mode("overwrite").parquet(d)

    def pipe(df):
        c = F.col("clean")
        h = _knuth_h(F.col("doc_id"))
        return (
            df.select(
                "doc_id", TXT.redact_pii(F.col("text")).alias("clean")
            )
            .select(
                "doc_id",
                "clean",
                TXT.token_count(c).alias("n_tokens"),
                TXT.quality_score(c).alias("quality"),
                TXT.lang_id(c).alias("lang_pred"),
                F.when(h * 100 < F.lit(90) * F.lit(_2_32), "train")
                .when(h * 100 < F.lit(95) * F.lit(_2_32), "val")
                .otherwise("test")
                .alias("split"),
            )
            .filter(F.col("quality") > 0.5)
        )

    streamed = run_available_now(spark, d, schema, pipe)
    batch = pipe(spark.read.parquet(src))
    cols = ["doc_id", "clean", "n_tokens", "quality", "lang_pred", "split"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() > 0


@pytest.mark.slow
def test_streaming_shard_ingestion_matches_sequential_batches(
    spark, tmp_path_factory
):
    """`streaming/ingest.py`: two shards arriving as separate
    micro-batches (maxFilesPerTrigger=1) produce EXACTLY the corpus
    and index the sequential batch ingestion loop produces — the
    same-functions-batch-and-stream contract for incremental dedup."""
    import os
    import time

    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.operators import incremental as INC
    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        ingest_dedup_stream,
    )

    base = tmp_path_factory.mktemp("ingest_stream")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(200)
    )
    s1 = docs.filter(F.col("doc_id") % 2 == 0)
    # shard 2: the odd half + exact copies of five shard-1 docs
    dups = s1.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    s2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(dups)

    src = str(base / "arrivals")
    os.makedirs(src)
    s1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # file-source ordering is by modification time
    s2.coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(s1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = ingest_dedup_stream(
        stream,
        str(base / "idx"),
        str(base / "corpus"),
        str(base / "ckpt"),
        drop_near_candidates=False,
        available_now=True,
    )
    q.awaitTermination(180)
    assert q.lastProgress is not None

    got_corpus = {
        r.doc_id for r in spark.read.parquet(str(base / "corpus")).collect()
    }

    # sequential batch replay of the same two shards
    ref_flag1 = INC.dedup_against_index(
        s1,
        INC.build_index(s1.limit(0)),
        old_sigs=INC.signature_table(s1.limit(0)),
    )
    ref_kept1 = ref_flag1.filter(~F.col("dup_exact"))
    idx = INC.build_index(s1.limit(0)).unionByName(
        INC.kept_index_rows(ref_flag1)
    )
    sigs = INC.signature_table(s1.limit(0)).unionByName(
        INC.kept_signature_rows(ref_flag1)
    )
    ref_flag2 = INC.dedup_against_index(s2, idx, old_sigs=sigs)
    ref_kept2 = ref_flag2.filter(~F.col("dup_exact"))
    want_corpus = {r.doc_id for r in ref_kept1.collect()} | {
        r.doc_id for r in ref_kept2.collect()
    }
    assert got_corpus == want_corpus
    # the planted exact copies never reach the corpus
    assert not any(d >= 1_000_000 for d in got_corpus)

    # index loop closure: (bands + 1) rows per kept doc with a sketch,
    # 1 sig row per kept doc
    n_sigs = spark.read.parquet(str(base / "idx/sigs")).count()
    assert n_sigs == len(got_corpus)
    n_idx = spark.read.parquet(str(base / "idx/index")).count()
    assert n_idx % len(got_corpus) == 0 and n_idx >= 2 * len(got_corpus)


def test_ingest_after_empty_first_batch(spark, tmp_path):
    """A first batch that keeps zero documents leaves index/ and sigs/
    without data files. The next batch must read them as empty (there
    is no prior corpus) instead of failing with UNABLE_TO_INFER_SCHEMA,
    and its documents must land in the corpus and the index."""
    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        process_ingest_batch,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "pack my box with five dozen liquor jugs today"),
            (3, "sphinx of black quartz judge my solemn vow now"),
        ],
        "doc_id long, text string",
    )
    idx, corpus = str(tmp_path / "idx"), str(tmp_path / "corpus")
    process_ingest_batch(docs.limit(0), 0, idx, corpus)
    process_ingest_batch(docs, 1, idx, corpus)
    got = spark.read.parquet(corpus)
    assert sorted(r.doc_id for r in got.collect()) == [1, 2, 3]
    assert {r.batch for r in got.select("batch").distinct().collect()} == {1}
    indexed = spark.read.parquet(f"{idx}/index").select("doc").distinct()
    assert sorted(r.doc for r in indexed.collect()) == [1, 2, 3]


@pytest.mark.slow
def test_streaming_ingestion_replay_is_idempotent(spark, tmp_path_factory):
    """Crash-replay semantics: foreachBatch is at-least-once, and a
    batch is re-run exactly when the previous attempt died after some
    (or all) of its writes. Replaying the batch processor with the
    same (batch_df, batch_id) must leave corpus/index/sigs IDENTICAL
    — the dynamic per-batch overwrite + prior-batches-only flag read
    make the writes idempotent, not merely appended."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        process_ingest_batch,
    )

    base = tmp_path_factory.mktemp("ingest_replay")
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(80)
    )
    s1 = docs.filter(F.col("doc_id") % 2 == 0)
    # shard 2 contains exact copies of three shard-1 docs
    s2 = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        s1.limit(3).select((F.col("doc_id") + 500_000).alias("doc_id"), "text")
    )
    idx, corpus = str(base / "idx"), str(base / "corpus")
    process_ingest_batch(s1, 0, idx, corpus)
    process_ingest_batch(s2, 1, idx, corpus)

    def state():
        out = {}
        for name, p in (("corpus", corpus), ("index", f"{idx}/index"),
                        ("sigs", f"{idx}/sigs")):
            spark.catalog.refreshByPath(p)
            df = spark.read.parquet(p)
            out[name] = df.count()
        ids = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
        return out, ids

    before, ids_before = state()
    assert len(ids_before) == len(set(ids_before)) == 80  # copies dropped

    # replay batch 1 (the crash-after-some-writes case): same frame,
    # same batch id — every output must be byte-for-byte re-derived
    process_ingest_batch(s2, 1, idx, corpus)
    after, ids_after = state()
    assert after == before
    assert ids_after == ids_before

    # and a replay of batch 0 (earliest batch) is equally harmless
    process_ingest_batch(s1, 0, idx, corpus)
    final, ids_final = state()
    assert final == before and ids_final == ids_before
