"""Bloom-filter sidecar (operators/bloom.py): no false negatives by
construction, measured fpp near the configured target, parquet
persistence, multi-column keys, and the incremental-probe
integration's flag equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from solana_snapshot_etl_tools_spark.operators import bloom as B


def _members(spark, n, offset=0):
    return spark.range(offset, offset + n).select(
        F.concat(F.lit("key-"), F.col("id")).alias("key")
    )


def test_no_false_negatives(spark):
    members = _members(spark, 5000)
    filt = B.bloom_build(members, "key", fpp=0.01)
    flagged = B.bloom_might_contain(members, filt, "key")
    assert flagged.filter(~F.col("might_contain")).count() == 0
    # partition invariance of the build
    filt2 = B.bloom_build(members.repartition(13), "key", fpp=0.01)
    flagged2 = B.bloom_might_contain(members, filt2, "key")
    assert flagged2.filter(~F.col("might_contain")).count() == 0


def test_false_positive_rate_near_target(spark):
    members = _members(spark, 5000)
    filt = B.bloom_build(members, "key", fpp=0.01)
    probes = _members(spark, 20000, offset=1_000_000)  # disjoint
    hits = (
        B.bloom_might_contain(probes, filt, "key")
        .filter(F.col("might_contain"))
        .count()
    )
    # 1% target: allow generous slack but catch an order-of-magnitude
    # break in either the sizing math or the bit arithmetic
    assert hits / 20000 < 0.03


def test_parquet_roundtrip_and_multi_column(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("bloom")
    members = spark.range(1000).select(
        (F.col("id") % 50).alias("a"),
        F.concat(F.lit("s"), F.col("id")).alias("b"),
    )
    filt = B.bloom_build(members, ["a", "b"], fpp=0.01)
    path = str(base / "bloom.parquet")
    filt.write.parquet(path)
    loaded = spark.read.parquet(path)
    flagged = B.bloom_might_contain(members, loaded, ["a", "b"])
    assert flagged.filter(~F.col("might_contain")).count() == 0
    # a different column pairing is a different key: (b, a) misses
    swapped = members.select(F.col("b").alias("a"), F.col("a").alias("b"))
    cross = (
        B.bloom_might_contain(swapped, loaded, ["a", "b"])
        .filter(F.col("might_contain"))
        .count()
    )
    assert cross < 50


def test_empty_build_and_guards(spark):
    empty = spark.createDataFrame([], "key string")
    filt = B.bloom_build(empty, "key")
    out = B.bloom_might_contain(_members(spark, 10), filt, "key")
    assert out.filter(F.col("might_contain")).count() == 0
    with pytest.raises(ValueError, match="fpp"):
        B.bloom_build(empty, "key", fpp=1.5)
    with pytest.raises(ValueError, match="MAX_BLOOM_BYTES"):
        B.bloom_build(empty, "key", expected_items=10**13, fpp=0.001)


def test_incremental_probe_flags_identical_with_bloom(spark):
    from solana_snapshot_etl_tools_spark.operators import incremental as INC
    from solana_snapshot_etl_tools_spark.session import release_session_caches

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1").unionByName(
        # planted exact copies of indexed docs under new ids
        old.limit(5).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    index = INC.build_index(old)
    filt = INC.index_bloom(index)
    base = {
        (r.doc_id, r.dup_exact, r.dup_near_candidate)
        for r in INC.dedup_against_index(new, index).collect()
    }
    release_session_caches()
    with_bloom = {
        (r.doc_id, r.dup_exact, r.dup_near_candidate)
        for r in INC.dedup_against_index(new, index, bloom=filt).collect()
    }
    release_session_caches()
    assert base == with_bloom
    assert sum(1 for _, ex, _n in base if ex) == 5
    # the filter really prunes: only the planted copies (plus rare
    # false positives) survive the map-side test
    keyed = new.select("doc_id", F.xxhash64("text").alias("key"))
    survivors = (
        B.bloom_might_contain(keyed, filt, "key")
        .filter(F.col("might_contain"))
        .count()
    )
    assert 5 <= survivors <= 15


@pytest.mark.slow
def test_cli_index_out_writes_and_probe_reads_bloom(
    spark, tmp_path_factory, capsys
):
    """--index-out persists the bloom sidecar; a later
    --dedup-against-index run reads it and keeps the identical dup
    arithmetic (the filter is transparent)."""
    import json

    from solana_snapshot_etl_tools_spark import corpus_cli

    base = tmp_path_factory.mktemp("bloom_cli")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").orderBy("doc_id").limit(80)
    s1, s2d = str(base / "s1"), str(base / "s2")
    docs.filter("doc_id % 2 = 0").write.parquet(s1)
    docs.filter("doc_id % 2 = 1").unionByName(
        docs.filter("doc_id % 2 = 0").limit(3).select(
            (F.col("doc_id") + 70_000_000).alias("doc_id"), "text"
        )
    ).write.parquet(s2d)

    def run(*argv):
        assert corpus_cli.main(list(argv)) == 0
        out = [
            l for l in capsys.readouterr().out.splitlines() if l.strip()
        ]
        return json.loads(out[-1])

    idx = str(base / "idx")
    run(s1, str(base / "out1"), "--no-pii", "--quality", "0",
        "--lang", "", "--index-out", idx)
    assert spark.read.parquet(f"{idx}/bloom").count() >= 1
    rep = run(s2d, str(base / "out2"), "--no-pii", "--quality", "0",
              "--lang", "", "--dedup-against-index", idx)
    assert rep["n_dup_exact_vs_index"] == 3
    assert rep["n_after_index_dedup"] == rep["n_after_filters"] - 3


@pytest.mark.slow
def test_stream_ingest_maintains_bloom_and_guards_coverage(
    spark, tmp_path_factory
):
    """The ingest loop writes a batch-partitioned bloom partial per
    micro-batch and uses it for later batches' probes; a sidecar whose
    batch coverage does not match the index (pre-sidecar store
    upgraded mid-stream) is ignored, never trusted."""
    import shutil

    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        _prior_bloom,
        process_ingest_batch,
    )

    base = tmp_path_factory.mktemp("bloom_stream")
    idx, corp = str(base / "idx"), str(base / "corpus")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").orderBy("doc_id").limit(60)
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1").unionByName(
        b0.limit(4).select((F.col("doc_id") + 5_000_000).alias("doc_id"), "text")
    )
    process_ingest_batch(b0, 0, idx, corp)
    process_ingest_batch(b1, 1, idx, corp)
    # the sidecar exists, covers both batches, and the planted copies died
    bloom = spark.read.parquet(f"{idx}/bloom")
    assert {r.batch for r in bloom.select("batch").distinct().collect()} == {0, 1}
    kept = spark.read.parquet(corp)
    assert kept.count() == 60
    assert kept.filter("doc_id >= 5000000").count() == 0
    # replay batch 1: bloom partial rewritten identically
    before = sorted(
        (r.batch, r.chunk, bytes(r.bits)) for r in bloom.collect()
    )
    process_ingest_batch(b1, 1, idx, corp)
    spark.catalog.refreshByPath(f"{idx}/bloom")
    after = sorted(
        (r.batch, r.chunk, bytes(r.bits))
        for r in spark.read.parquet(f"{idx}/bloom").collect()
    )
    assert before == after
    assert spark.read.parquet(corp).count() == 60
    # coverage guard: a sidecar missing batch 0 must be IGNORED
    shutil.rmtree(f"{idx}/bloom/batch=0")
    spark.catalog.refreshByPath(f"{idx}/bloom")
    assert _prior_bloom(spark, idx, 2) is None
    # and with holes, a new batch with copies of batch-0 docs still
    # catches them (probe runs unaccelerated, never wrong)
    b2 = b0.limit(3).select(
        (F.col("doc_id") + 6_000_000).alias("doc_id"), "text"
    )
    process_ingest_batch(b2, 2, idx, corp)
    spark.catalog.refreshByPath(corp)
    assert spark.read.parquet(corp).filter("doc_id >= 6000000").count() == 0


def test_sharded_bloom_same_contract(spark, tmp_path_factory):
    """The key-space-sharded variant (the past-MAX_BLOOM_BYTES design):
    no false negatives, sane fpp, executor-side partition-pruned shard
    loads, one shard's array in memory at a time."""
    base = tmp_path_factory.mktemp("bloom_sharded")
    members = _members(spark, 4000)
    filt = B.bloom_build_sharded(members, "key", n_shards=7, fpp=0.01)
    path = str(base / "bloom")
    filt.write.partitionBy("shard").parquet(path)
    # every shard materialized, per-shard sizing recorded
    stored = spark.read.parquet(path)
    assert stored.select("shard").distinct().count() == 7
    assert stored.select("n_shards").first().n_shards == 7

    flagged = B.bloom_might_contain_sharded(members, path, "key")
    assert flagged.filter(~F.col("might_contain")).count() == 0
    probes = _members(spark, 20000, offset=1_000_000)
    hits = (
        B.bloom_might_contain_sharded(probes, path, "key")
        .filter(F.col("might_contain"))
        .count()
    )
    assert hits / 20000 < 0.03
    # build partition invariance
    filt2 = B.bloom_build_sharded(
        members.repartition(13), "key", n_shards=7, fpp=0.01
    )
    path2 = str(base / "bloom2")
    filt2.write.partitionBy("shard").parquet(path2)
    again = B.bloom_might_contain_sharded(members, path2, "key")
    assert again.filter(~F.col("might_contain")).count() == 0
    with pytest.raises(ValueError, match="n_shards"):
        B.bloom_build_sharded(members, "key", n_shards=0)


def test_incremental_probe_with_sharded_store(spark, tmp_path_factory):
    """dedup_against_index(bloom_sharded_path=...) — identical flags
    to the unaccelerated probe, with the sharded store's executor-side
    loads."""
    from solana_snapshot_etl_tools_spark.operators import incremental as INC
    from solana_snapshot_etl_tools_spark.session import release_session_caches

    base = tmp_path_factory.mktemp("inc_sharded")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1").unionByName(
        old.limit(5).select(
            (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
        )
    )
    index = INC.build_index(old)
    path = str(base / "bloom")
    B.bloom_build_sharded(
        index.filter("band = -1").select("key"), "key", n_shards=4
    ).write.partitionBy("shard").parquet(path)
    base_flags = {
        (r.doc_id, r.dup_exact, r.dup_near_candidate)
        for r in INC.dedup_against_index(new, index).collect()
    }
    release_session_caches()
    sharded_flags = {
        (r.doc_id, r.dup_exact, r.dup_near_candidate)
        for r in INC.dedup_against_index(
            new, index, bloom_sharded_path=path
        ).collect()
    }
    release_session_caches()
    assert sharded_flags == base_flags
    assert sum(1 for _, ex, _n in base_flags if ex) == 5
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not both"):
        INC.dedup_against_index(
            new, index, bloom=spark.range(0).select(), bloom_sharded_path=path
        )


def test_bloom_flags_match_python_reference_exactly(spark):
    """Beyond no-false-negatives: rebuild the filter in pure Python
    from the Spark-exported double hashes and require EXACT flag
    agreement (members and non-members alike) — pins the sizing, the
    position arithmetic, and the bit packing end-to-end."""
    members = _members(spark, 800)
    probes = _members(spark, 2000, offset=500)  # overlaps members 500..799
    filt = B.bloom_build(members, "key", fpp=0.01)
    m = int(filt.select("m_bits").first().m_bits)
    k = int(filt.select("n_hashes").first().n_hashes)
    u64 = 2**64 - 1  # uint64 wraparound IS the scheme

    def hashes(df):
        return {
            r.key: (r._h1 & u64, r._h2 & u64)
            for r in df.select(
                "key",
                F.xxhash64("key").alias("_h1"),
                F.xxhash64("key", F.lit("bloom-h2")).alias("_h2"),
            ).collect()
        }

    # plain Python ints: NumPy scalar arithmetic made this loop most of
    # the test's wall time
    bits = bytearray(m // 8)
    for h1, h2 in hashes(members).values():
        for i in range(k):
            p = ((h1 + i * h2) & u64) % m
            bits[p // 8] |= 1 << (p % 8)

    want = {}
    for key, (h1, h2) in hashes(probes).items():
        want[key] = all(
            bits[(p := ((h1 + i * h2) & u64) % m) // 8] >> (p % 8) & 1
            for i in range(k)
        )
    got = {
        r.key: r.might_contain
        for r in B.bloom_might_contain(probes, filt, "key").collect()
    }
    assert got == want
    # and the reference agrees a real member is always present
    assert all(want[f"key-{i}"] for i in range(500, 800))

@pytest.mark.slow
def test_cli_dedup_against_stream_store_guards_bloom_coverage(
    spark, tmp_path_factory, capsys
):
    """Advisor r9 (medium): the batch-mode --dedup-against-index must
    apply the same bloom batch-coverage guard as the stream loop. A
    stream-written store whose sidecar lost a batch (upgraded
    mid-stream / crashed between writes) would otherwise answer
    'definitely absent' for the missing batch's keys and silently
    skip real exact duplicates."""
    import json
    import shutil

    from solana_snapshot_etl_tools_spark import corpus_cli
    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        process_ingest_batch,
    )

    base = tmp_path_factory.mktemp("bloom_cov_cli")
    idx, corp = str(base / "idx"), str(base / "corpus")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").orderBy("doc_id").limit(60)
    b0 = docs.filter("doc_id % 2 = 0")
    b1 = docs.filter("doc_id % 2 = 1")
    process_ingest_batch(b0, 0, idx, corp)
    process_ingest_batch(b1, 1, idx, corp)

    # a shard holding one exact copy from EACH batch
    shard = str(base / "shard")
    b0.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).unionByName(
        b1.limit(1).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
        )
    ).write.parquet(shard)

    def run(out):
        assert corpus_cli.main(
            [shard, str(base / out), "--no-pii", "--quality", "0",
             "--lang", "", "--dedup-against-index", idx]
        ) == 0
        lines = [
            l for l in capsys.readouterr().out.splitlines() if l.strip()
        ]
        return json.loads(lines[-1])

    # full coverage: the batch-partitioned sidecar is usable as-is
    rep = run("out_full")
    assert rep["n_dup_exact_vs_index"] == 2
    assert "bloom_probe_disabled" not in rep

    # drop one batch partition from the sidecar only: coverage now
    # mismatches the index -> the filter must be DISABLED, and both
    # copies must still be flagged by the unaccelerated probe
    shutil.rmtree(f"{idx}/bloom/batch=1")
    spark.catalog.refreshByPath(f"{idx}/bloom")
    rep2 = run("out_hole")
    assert rep2["bloom_probe_disabled"] == "batch_coverage_mismatch"
    assert rep2["n_dup_exact_vs_index"] == 2


def test_prior_batches_tolerates_unpartitioned_store(
    spark, tmp_path_factory
):
    """Advisor r9: a batch-mode (un-partitioned) bloom under a stream
    root must read as 'no coverage info' (guard disables the filter),
    not crash the micro-batch with an unresolved-column error."""
    from solana_snapshot_etl_tools_spark.operators import incremental as INC
    from solana_snapshot_etl_tools_spark.streaming.ingest import (
        _prior_batches,
        _prior_bloom,
    )

    base = tmp_path_factory.mktemp("bloom_unpart")
    idx = str(base / "idx")
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(20)
    index = INC.build_index(docs)
    index.write.parquet(f"{idx}/index")
    INC.index_bloom(index).write.parquet(f"{idx}/bloom")  # no batch col
    assert _prior_batches(spark, f"{idx}/bloom", 3) is None
    assert _prior_bloom(spark, idx, 3) is None
