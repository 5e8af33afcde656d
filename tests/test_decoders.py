"""Golden decode tests: engine output vs pre-pack ground truth
(FIXTURES.md §1-2; the fixture packs known values into the reference's
binary layouts, so these check actual decoded values)."""

from __future__ import annotations

from pyspark.sql import functions as F

from solana_snapshot_etl_tools_spark.fixtures import build_fixture
from solana_snapshot_etl_tools_spark.operators import decoders as D


def hx(c):
    return F.hex(F.col(c)).alias(c)


def _check(name, df, fx):
    cols, _types, rows = fx["expected"][name]
    assert df.columns == cols, f"{df.columns} != {cols}"
    got = sorted(tuple(r) for r in df.collect())
    assert got == sorted(rows), f"{name}: value mismatch"


def test_account_table(raw_accounts):
    fx = build_fixture()
    df = D.account_table(raw_accounts).select(
        hx("pubkey"), "data_len", hx("owner"), "lamports", "executable", "rent_epoch"
    )
    _check("account", df, fx)


def test_token_account(raw_accounts):
    fx = build_fixture()
    df = D.token_account_table(raw_accounts).select(
        hx("pubkey"), hx("mint"), hx("owner"), "amount", hx("delegate"),
        "state", "is_native", "delegated_amount", hx("close_authority"),
    )
    _check("token_account", df, fx)


def test_token_mint(raw_accounts):
    fx = build_fixture()
    df = D.token_mint_table(raw_accounts).select(
        hx("pubkey"), hx("mint_authority"), "supply", "decimals",
        "is_initialized", hx("freeze_authority"),
    )
    _check("token_mint", df, fx)


def test_token_multisig_explode(raw_accounts):
    fx = build_fixture()
    df = D.token_multisig_table(raw_accounts).select(
        hx("pubkey"), hx("signer"), "m", "n"
    )
    _check("token_multisig", df, fx)


def _pack_metadata_bytes(
    name=b"Degen Ape #1\x00\x00", symbol=b"DAPE\x00", uri=b"https://x/1.json",
    creators=2, tail=b"\x01\x07\x00\x01\x01" + bytes(range(32)),
) -> bytes:
    """A valid MetadataV1 encoding with creators + full extension tail
    (edition_nonce Some(7), token_standard None, collection Some)."""
    import struct

    out = bytes([4]) + bytes(range(64))  # key, update_authority+mint
    for s in (name, symbol, uri):
        out += struct.pack("<I", len(s)) + s
    out += struct.pack("<H", 500)  # seller_fee_basis_points
    if creators is None:
        out += b"\x00"
    else:
        out += b"\x01" + struct.pack("<I", creators) + b"\xab" * (creators * 34)
    out += b"\x01\x01"  # primary_sale_happened, is_mutable
    return out + tail


def test_metadata_catalyst_matches_udf_differential(spark):
    """The pure-Catalyst Borsh walk (metadata_struct) must agree with
    the reference pandas UDF on EVERY byte string: every prefix
    truncation of a valid encoding (hits each bounds check), tag/count
    mutations, and seeded random fuzz. NULL struct ⇔ UDF None."""
    import random

    valid = _pack_metadata_bytes()
    cases: list[bytes] = [b"", b"\x00", valid]
    # every truncation boundary of the full valid encoding
    cases += [valid[:i] for i in range(len(valid))]
    # tail-less and creators-less variants, truncated across the tail
    short = _pack_metadata_bytes(creators=None, tail=b"")
    cases += [short + _pack_metadata_bytes()[len(short) - 5 :][:j] for j in range(12)]
    # mutations: wrong key, bad utf8 in each string, huge lengths/counts
    cases.append(b"\x05" + valid[1:])
    for off in (66, 70, 80):
        m = bytearray(valid)
        m[off] = 0xFF
        cases.append(bytes(m))
    m = bytearray(valid)
    m[65:69] = b"\xff\xff\xff\xff"  # name_len = u32::MAX
    cases.append(bytes(m))
    m = bytearray(_pack_metadata_bytes(creators=3))
    cases.append(bytes(m))
    rng = random.Random(7)
    for _ in range(120):
        n = rng.randrange(0, 200)
        cases.append(bytes(rng.randrange(256) for _ in range(n)))
    for _ in range(80):  # random single-byte corruptions of valid
        m = bytearray(valid)
        m[rng.randrange(len(m))] = rng.randrange(256)
        cases.append(bytes(m))

    df = spark.createDataFrame([(c,) for c in cases], "data binary")
    got = (
        D.metadata_decode(df)
        .withColumnRenamed("m", "c")
        .withColumn("u", D._decode_metadata_udf("data"))
        .select("c", "u")
        .collect()
    )
    for case, row in zip(cases, got):
        c = None if row.c is None or row.c.mint is None else tuple(row.c)
        u = None if row.u is None or row.u.mint is None else tuple(row.u)
        assert c == u, f"divergence on {case.hex()}: catalyst={c} udf={u}"


def test_token_metadata_borsh(raw_accounts):
    fx = build_fixture()
    df = D.token_metadata_table(raw_accounts).select(
        hx("pubkey"), hx("mint"), "name", "symbol", "uri",
        "seller_fee_basis_points", "primary_sale_happened", "is_mutable",
        "edition_nonce", "collection_verified", hx("collection_key"),
    )
    _check("token_metadata", df, fx)


def test_offchain_uri(raw_accounts):
    fx = build_fixture()
    df = D.offchain_uri_table(raw_accounts).select(hx("pubkey"), "uri")
    _check("offchain_uri", df, fx)


def test_program_elfs(raw_accounts):
    fx = build_fixture()
    df = D.program_elfs_table(raw_accounts).select(
        hx("pubkey"),
        F.octet_length("elf").cast("long").alias("elf_len"),
        F.md5("elf").alias("elf_md5"),
    )
    _check("program_elfs", df, fx)


def test_csv_projection_base58(raw_accounts):
    fx = build_fixture()
    _check("csv_projection", D.csv_projection(raw_accounts), fx)


def test_deletion_events(raw_accounts):
    fx = build_fixture()
    df = D.deletion_events(raw_accounts).select(hx("pubkey"), "slot")
    _check("deletion_events", df, fx)


def test_dedup_keeps_max_slot_writeversion(raw_accounts):
    win = D.dedup_last_write_wins(raw_accounts)
    assert win.count() == win.select("pubkey").distinct().count()
    # total raw rows > winners (fixture emits 30 duplicates)
    assert raw_accounts.count() > win.count()


def test_token_rows_survive_a_later_non_token_version(raw_accounts):
    """The token tables dedup the token-owned versions only: a later
    version of a token account under another owner replaces its
    ``account`` row but keeps its ``token_account`` row, as the
    reference's per-version upsert does."""
    from solana_snapshot_etl_tools_spark import schemas as S

    tok = D.token_account_table(raw_accounts).select("pubkey").limit(1).collect()
    key = tok[0].pubkey
    later = (
        raw_accounts.filter(F.col("pubkey") == F.lit(key))
        .withColumn("slot", F.col("slot") + 1_000_000)
        .withColumn("owner", F.lit(S.SYSTEM_PROGRAM_ID))
    )
    raw = raw_accounts.unionByName(later)
    mine = F.col("pubkey") == F.lit(key)
    assert D.token_account_table(raw).filter(mine).count() == 1
    (acct,) = D.account_table(raw).filter(mine).collect()
    assert bytes(acct.owner) == bytes(S.SYSTEM_PROGRAM_ID)
