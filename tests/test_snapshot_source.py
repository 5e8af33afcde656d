"""Snapshot ingestion tests (S1-S5, F13, F14): round-trip the fixture
through real AppendVec files + manifest + tar archive and prove the
scan reproduces the exact raw_accounts table."""

from __future__ import annotations

import os
import tarfile

import pytest

from solana_snapshot_etl_tools_spark.fixtures import build_fixture, raw_accounts_df
from solana_snapshot_etl_tools_spark.operators import decoders as D
from solana_snapshot_etl_tools_spark.sources import appendvec as AV
from solana_snapshot_etl_tools_spark.sources import snapshot as SNAP


def _write_snapshot_dir(tmp: str) -> tuple[str, dict]:
    """Group the fixture's raw accounts by (slot, id) into real
    AppendVec files; return (accounts_dir, manifest dict)."""
    fx = build_fixture()
    cols = [
        "pubkey", "write_version", "slot", "append_vec_id", "owner",
        "lamports", "executable", "rent_epoch", "hash", "data", "data_len",
    ]
    by_vec: dict[tuple[int, int], list[dict]] = {}
    for row in fx["raw_rows"]:
        d = dict(zip(cols, row))
        by_vec.setdefault((d["slot"], d["append_vec_id"]), []).append(d)
    accounts_dir = os.path.join(tmp, "accounts")
    os.makedirs(accounts_dir, exist_ok=True)
    manifest: dict[tuple[int, int], int] = {}
    for (slot, vid), accounts in by_vec.items():
        blob = AV.write_append_vec(accounts)
        with open(os.path.join(accounts_dir, f"{slot}.{vid}"), "wb") as f:
            f.write(blob + b"\xab" * 7)  # trailing garbage past current_len
        manifest[(slot, vid)] = len(blob)
    return accounts_dir, manifest


def _assert_same_accounts(spark, scanned, reference_df):
    a = sorted(map(tuple, scanned.collect()))
    b = sorted(map(tuple, reference_df.collect()))
    assert len(a) == len(b)
    assert a == b


def test_appendvec_roundtrip_unit():
    fx = build_fixture()
    cols = [
        "pubkey", "write_version", "slot", "append_vec_id", "owner",
        "lamports", "executable", "rent_epoch", "hash", "data", "data_len",
    ]
    accounts = [dict(zip(cols, r)) for r in fx["raw_rows"][:20]]
    blob = AV.write_append_vec(accounts)
    decoded = list(AV.iter_append_vec(blob))
    assert len(decoded) == 20
    for orig, dec in zip(accounts, decoded):
        for k in ("pubkey", "write_version", "owner", "lamports",
                  "executable", "rent_epoch", "hash", "data", "data_len"):
            assert dec[k] == orig[k], k


def test_scan_unpacked_matches_fixture(spark, tmp_path, raw_accounts):
    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    # F13: badly-named files must be ignored
    for bad in ("1234", "12.ab", "readme.txt"):
        with open(os.path.join(accounts_dir, bad), "wb") as f:
            f.write(b"junk")
    scanned = SNAP.scan_unpacked(spark, accounts_dir, manifest)
    _assert_same_accounts(spark, scanned, raw_accounts)


def test_scan_respects_manifest_bound(spark, tmp_path, raw_accounts):
    """current_len bounds the walk: the trailing garbage written after
    the manifest length must never produce phantom records; without
    the bound a crafted tail could."""
    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    n_bounded = SNAP.scan_unpacked(spark, accounts_dir, manifest).count()
    assert n_bounded == raw_accounts.count()


def test_missing_manifest_entry_strict_and_lenient(spark, tmp_path):
    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    (victim_slot, victim_id) = next(iter(manifest))
    del manifest[(victim_slot, victim_id)]
    with pytest.raises(ValueError, match="missing from manifest"):
        SNAP.scan_unpacked(spark, accounts_dir, manifest, strict=True)
    lenient = SNAP.scan_unpacked(spark, accounts_dir, manifest, strict=False)
    assert lenient.filter(
        (lenient.slot == victim_slot) & (lenient.append_vec_id == victim_id)
    ).count() == 0


def test_manifest_codec_roundtrip():
    entries = {(1154, 3): 4096, (1154, 7): 128, (1900, 0): 999999}
    blob = SNAP.write_accounts_db_fields(entries)
    assert SNAP.parse_accounts_db_fields(blob) == entries


def test_archive_scan_end_to_end(spark, tmp_path, raw_accounts):
    """S1: manifest + appendvecs in a tar → extract → scan → decode →
    the token_account table still matches the pre-pack ground truth."""
    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    slot = max(s for s, _ in manifest)
    tar_path = str(tmp_path / "snap.tar")
    with tarfile.open(tar_path, "w") as tf:
        mpath = str(tmp_path / "manifest.bin")
        with open(mpath, "wb") as f:
            f.write(SNAP.write_accounts_db_fields(manifest))
        tf.add(mpath, arcname=f"snapshots/{slot}/{slot}")
        for name in sorted(os.listdir(accounts_dir)):
            tf.add(os.path.join(accounts_dir, name), arcname=f"accounts/{name}")
    scanned = SNAP.scan_archive(spark, tar_path, str(tmp_path / "work"))
    _assert_same_accounts(spark, scanned, raw_accounts)
    # full pipeline: snapshot files → decode → typed table
    fx = build_fixture()
    from pyspark.sql import functions as F

    got = sorted(
        tuple(r)
        for r in D.token_account_table(scanned)
        .select(
            F.hex("pubkey"), F.hex("mint"), F.hex("owner"), "amount",
            F.hex("delegate"), "state", "is_native", "delegated_amount",
            F.hex("close_authority"),
        )
        .collect()
    )
    assert got == sorted(fx["expected"]["token_account"][2])


def test_appendvec_before_manifest_rejected(spark, tmp_path):
    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    tar_path = str(tmp_path / "bad.tar")
    with tarfile.open(tar_path, "w") as tf:
        name = sorted(os.listdir(accounts_dir))[0]
        tf.add(os.path.join(accounts_dir, name), arcname=f"accounts/{name}")
    with pytest.raises(ValueError, match="UnexpectedAppendVec|no manifest"):
        SNAP.extract_archive(tar_path, str(tmp_path / "w2"))


def test_bank_prefixed_manifest_parse():
    """S4: a realistic DeserializableVersionedBank prefix (populated
    collections, solana-runtime 1.11 layout) is skipped exactly and the
    AccountsDbFields behind it parses identically."""
    from solana_snapshot_etl_tools_spark.sources import bank as B

    entries = {(1154, 3): 4096, (1154, 7): 128, (1900, 0): 999999}
    fields = SNAP.write_accounts_db_fields(entries)
    for kwargs in (
        {},
        dict(n_vote_accounts=0, n_delegations=0, n_epoch_stakes=0),
        dict(n_vote_accounts=5, n_delegations=7, n_epoch_stakes=3),
    ):
        bank_blob = B.write_versioned_bank(**kwargs)
        blob = bank_blob + fields
        assert B.skip_versioned_bank(blob) == len(bank_blob)
        assert SNAP.parse_manifest(blob) == entries  # auto-detect
        assert SNAP.parse_manifest(blob, bank_prefixed=True) == entries
    # plain (fixture-shaped) manifests still parse via auto-detect
    assert SNAP.parse_manifest(fields) == entries
    # garbage fails loudly on both paths
    with pytest.raises(ValueError, match="neither"):
        SNAP.parse_manifest(b"\xff" * 64)


def test_bank_skip_walk_hand_packed_layout():
    """Byte-literal layout pin, independent of write_versioned_bank:
    the round-2 fixture writer mirrored two skip-walk bugs (41-byte
    FeeRateGovernor though lamports_per_signature is #[serde(skip)];
    NodeVoteAccounts skipped total_stake before the vec), so
    writer-based round-trips stayed green while real manifests would
    misalign. This packs the solana-runtime 1.11.3 layout by hand."""
    import struct

    from solana_snapshot_etl_tools_spark.sources import bank as B

    u64 = lambda v: struct.pack("<Q", v)  # noqa: E731
    blob = b"".join(
        [
            u64(1),  # blockhash_queue.last_hash_index
            b"\x00",  # last_hash: None
            u64(0),  # ages: empty map
            u64(2),  # max_age
            u64(0),  # ancestors
            b"\x11" * 32 + b"\x22" * 32 + u64(3),  # hash, parent_hash, parent_slot
            u64(0),  # hard_forks
            u64(4) * 5,  # transaction_count .. max_tick_height
            b"\x00",  # hashes_per_tick: None
            u64(64),  # ticks_per_slot
            b"\x00" * 16,  # ns_per_slot u128
            u64(5) + struct.pack("<d", 1.0),  # genesis_creation_time, slots_per_year
            u64(6),  # accounts_data_len
            u64(7) + u64(8) + u64(9),  # slot, epoch, block_height
            b"\x33" * 32 + u64(10),  # collector_id, collector_fees
            u64(11),  # fee_calculator.lamports_per_signature
            # FeeRateGovernor: EXACTLY 4 u64 + burn_percent — the leading
            # lamports_per_signature is #[serde(skip)] in solana-sdk 1.11.3
            u64(12) * 4 + b"\x32",
            u64(13),  # collected_rent
            # rent_collector: epoch + EpochSchedule(33) + f64 + Rent(17)
            u64(14)
            + (u64(15) + u64(16) + b"\x01" + u64(17) + u64(18))
            + struct.pack("<d", 2.0)
            + (u64(19) + struct.pack("<d", 3.0) + b"\x01"),
            u64(20) + u64(21) + b"\x00" + u64(22) + u64(23),  # epoch_schedule
            struct.pack("<d", 0.0) * 6,  # inflation
            # stakes: empty vote_accounts/delegations/history
            u64(0) + u64(0) + u64(24) + u64(25) + u64(0),
            u64(0) + u64(0) + u64(0),  # unused_accounts
            # epoch_stakes: one entry exercising NodeVoteAccounts order
            u64(1),
            u64(26),  # epoch key
            u64(0) + u64(0) + u64(27) + u64(28) + u64(0),  # stakes (empty)
            u64(29),  # total_stake
            # node_id_to_vote_accounts: one entry = key, THEN the
            # Vec<Pubkey>, THEN total_stake. The trailing stake is huge:
            # misreading it as a vec length (the round-2 bug read the
            # fields in the opposite order) trips MAX_LEN loudly.
            u64(1) + b"\x44" * 32 + (u64(1) + b"\x55" * 32) + u64(10**15),
            u64(0),  # epoch_authorized_voters
            b"\x01",  # is_delta
        ]
    )
    assert B.skip_versioned_bank(blob) == len(blob)
    assert B._FEE_RATE_GOVERNOR == 4 * 8 + 1


def test_bank_prefixed_archive_end_to_end(spark, tmp_path, raw_accounts):
    """S1+S4: a production-shaped archive (bank-prefixed manifest)
    scans to the same account set."""
    from solana_snapshot_etl_tools_spark.sources import bank as B

    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    slot = max(s for s, _ in manifest)
    tar_path = str(tmp_path / "snap_bank.tar")
    with tarfile.open(tar_path, "w") as tf:
        mpath = str(tmp_path / "manifest_bank.bin")
        with open(mpath, "wb") as f:
            f.write(
                B.write_versioned_bank(slot=slot)
                + SNAP.write_accounts_db_fields(manifest)
            )
        tf.add(mpath, arcname=f"snapshots/{slot}/{slot}")
        for name in sorted(os.listdir(accounts_dir)):
            tf.add(os.path.join(accounts_dir, name), arcname=f"accounts/{name}")
    scanned = SNAP.scan_archive(spark, tar_path, str(tmp_path / "work_bank"))
    _assert_same_accounts(spark, scanned, raw_accounts)


def _write_cli_archive(tmp_path) -> str:
    """The fixture as a snapshot .tar the CLI takes as its source."""
    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    slot = max(s for s, _ in manifest)
    tar_path = str(tmp_path / "snap_cli.tar")
    with tarfile.open(tar_path, "w") as tf:
        mpath = str(tmp_path / "manifest_cli.bin")
        with open(mpath, "wb") as f:
            f.write(SNAP.write_accounts_db_fields(manifest))
        tf.add(mpath, arcname=f"snapshots/{slot}/{slot}")
        for name in sorted(os.listdir(accounts_dir)):
            tf.add(os.path.join(accounts_dir, name), arcname=f"accounts/{name}")
    return tar_path


def test_cli_end_to_end(spark, tmp_path):
    """The reference binary's UX: one archive in, snapshot.db + CSV
    out, via `python -m solana_snapshot_etl_tools_spark` (in-process
    main; the CLI must not tear down a session it joined)."""
    import sqlite3

    from solana_snapshot_etl_tools_spark.__main__ import main
    from solana_snapshot_etl_tools_spark.fixtures import build_fixture as BF

    tar_path = _write_cli_archive(tmp_path)
    import shutil

    db = str(tmp_path / "out.db")
    csv_dir = str(tmp_path / "csv")
    # the consumer's default dir: an env override set mid-session would
    # not reach already-forked Python workers, so the test uses the
    # default and cleans it (a real CLI run sets the env before launch)
    gey_dir = "/tmp/geyser_out"
    shutil.rmtree(gey_dir, ignore_errors=True)
    rc = main(
        [tar_path, "--sqlite-out", db, "--csv-out", csv_dir,
         "--geyser",
         "solana_snapshot_etl_tools_spark.streaming.sinks:debug_file_consumer",
         "--work-dir", str(tmp_path / "wk")]
    )
    assert rc == 0
    assert spark.sparkContext._jsc is not None  # session survived
    con = sqlite3.connect(db)
    (n,) = con.execute("SELECT count(*) FROM account").fetchone()
    assert n == len(BF()["expected"]["account"][2])
    con.close()
    assert spark.read.option("header", True).csv(csv_dir).count() == n
    # the geyser consumer saw every raw record (pre-dedup), executor-side
    pushed = set()
    for fn in os.listdir(gey_dir):
        with open(os.path.join(gey_dir, fn)) as f:
            pushed.update(line.split(",")[0] for line in f.read().splitlines())
    exp_keys = {bytes(r[0]).hex() for r in BF()["raw_rows"]}
    assert pushed == exp_keys


def test_tar_zst_archive_scan(spark, tmp_path, raw_accounts):
    """S1: .tar.zst archives stream-decompress (pyarrow zstd fallback
    when the zstandard package is absent) and scan identically."""
    import pyarrow as pa

    accounts_dir, manifest = _write_snapshot_dir(str(tmp_path))
    slot = max(s for s, _ in manifest)
    tar_path = str(tmp_path / "snap2.tar")
    with tarfile.open(tar_path, "w") as tf:
        mpath = str(tmp_path / "manifest2.bin")
        with open(mpath, "wb") as f:
            f.write(SNAP.write_accounts_db_fields(manifest))
        tf.add(mpath, arcname=f"snapshots/{slot}/{slot}")
        for name in sorted(os.listdir(accounts_dir)):
            tf.add(os.path.join(accounts_dir, name), arcname=f"accounts/{name}")
    zst_path = str(tmp_path / "snap2.tar.zst")
    with open(tar_path, "rb") as fin, pa.output_stream(
        zst_path, compression="zstd"
    ) as fout:
        fout.write(fin.read())
    scanned = SNAP.scan_archive(spark, zst_path, str(tmp_path / "work_zst"))
    _assert_same_accounts(spark, scanned, raw_accounts)


def test_cli_sinks_share_one_scan(spark, tmp_path, monkeypatch):
    """Several output flags decode the archive once, as the reference
    walks each AppendVec once for all of its outputs: an identity
    mapInPandas over the loaded frame counts the rows every job pulls
    through it. A CLI that handed each sink its own scan would count
    3x the raw rows here (one scan per build, one for the CSV). The
    shared scan is released before the CLI returns."""
    from solana_snapshot_etl_tools_spark.__main__ import main
    from solana_snapshot_etl_tools_spark.sources import loader

    sc = spark.sparkContext
    scanned = sc.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            scanned.add(len(pdf))
            yield pdf

    load = loader.load_snapshot

    def counted_load(*args, **kwargs):
        raw = load(*args, **kwargs)
        return raw.mapInPandas(count_rows, raw.schema)

    monkeypatch.setattr(loader, "load_snapshot", counted_load)
    tar_path = _write_cli_archive(tmp_path)
    persisted = sc._jsc.getPersistentRDDs().size()
    rc = main(
        [tar_path, "--sqlite-out", str(tmp_path / "out.db"),
         "--parquet-out", str(tmp_path / "tables"),
         "--csv-out", str(tmp_path / "csv"),
         "--work-dir", str(tmp_path / "wk")]
    )
    assert rc == 0
    # raw.count(): every raw record of the archive, before any dedup
    assert scanned.value == len(build_fixture()["raw_rows"])
    assert sc._jsc.getPersistentRDDs().size() == persisted
