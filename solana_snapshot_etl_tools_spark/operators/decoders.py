"""Typed-view decoders over raw snapshot accounts (SURVEY.md §2.4).

Spark-first re-expression of the reference's per-row decode-and-upsert
loop (reference sqlite.rs:206-401): each derived table is
``raw → dedup → owner filter → decode`` where the decode is pure
column expressions wherever the layout is fixed (T1/T2/T3/T5/T6 stay
inside whole-stage codegen), and an Arrow-batched pandas UDF only for
the variable-length Borsh metadata (T4).

Scale notes (100 TB posture):
- dedup is the single wide stage; it uses ``max_by`` aggregation
  (partial/map-side combine) rather than a row_number window, so the
  shuffle carries one combined record per (pubkey, partition) instead
  of every version of every account.
- every decode is a narrow map after an owner filter that Catalyst
  pushes to the parquet scan (owner + data_len are row-group-prunable).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.functions.base58 import base58_encode_col
from solana_snapshot_etl_tools_spark.functions.binary import (
    bool_at,
    coption_pubkey,
    coption_u64,
    le_u16,
    le_u32,
    le_u32_dyn,
    le_u64,
    pubkey_at,
    substr_dyn,
    u8_at,
    u8_at_dyn,
)

# --- X3: last-write-wins dedup ---------------------------------------------


def dedup_last_write_wins(raw: DataFrame) -> DataFrame:
    """Deterministic upsert semantics (reference ``INSERT OR REPLACE``,
    sqlite.rs:221): keep the (slot, write_version)-max version of each
    pubkey. The reference depends on archive iteration order; we fix an
    explicit order (SURVEY.md §4 item 4 documents the divergence).

    Implemented as ``max_by(struct(*), struct(slot, write_version))``
    so Spark runs partial aggregation map-side — at 100 TB this ships
    one candidate per pubkey per input partition through the shuffle,
    not every historical version.
    """
    cols = raw.columns
    agg = raw.groupBy("pubkey").agg(
        F.max_by(
            F.struct(*[c for c in cols if c != "pubkey"]),
            F.struct("slot", "write_version"),
        ).alias("_w")
    )
    return agg.select("pubkey", *[F.col(f"_w.{c}") for c in cols if c != "pubkey"])


# --- base `account` table (reference sqlite.rs:96-107) ----------------------


def account_table(raw: DataFrame) -> DataFrame:
    return dedup_last_write_wins(raw).select(
        "pubkey", "data_len", "owner", "lamports", "executable", "rent_epoch"
    )


def csv_projection(raw: DataFrame) -> DataFrame:
    """K1/P1/P2: the CSV sink's 4-column projection with base58 keys
    (reference csv.rs:14-20, 48-54)."""
    return dedup_last_write_wins(raw).select(
        base58_encode_col("pubkey").alias("pubkey"),
        base58_encode_col("owner").alias("owner"),
        "data_len",
        "lamports",
    )


# --- T1/T2/T3: SPL token fixed layouts (reference sqlite.rs:236-324) --------


def token_latest(raw: DataFrame) -> DataFrame:
    """F1 owner routing + X3: the last-write-wins version of every
    SPL-token-owned account, the one frame T1/T2/T3 decode from.

    The owner filter runs BEFORE the dedup, not after it: the
    reference upserts a token row only while the account is
    token-owned (sqlite.rs:206-216), so a later non-token version of
    the same pubkey must not drop the row, as it would if the token
    tables were derived from the all-accounts dedup. Each decoder then
    keeps its exact layout size (F11); wrong sizes are skipped (L1
    leniency, sqlite.rs:252-258)."""
    return dedup_last_write_wins(
        raw.filter(F.col("owner") == F.lit(S.TOKEN_PROGRAM_ID))
    )


def _coption_tag_ok(d: Column, off0: int) -> Column:
    """spl_token's COption unpack accepts exactly [0,0,0,0] or
    [1,0,0,0] as the 4-byte tag; anything else fails unpack and the
    reference silently skips the whole row (sqlite.rs:237-251 via
    spl_token unpack Err)."""
    return le_u32(d, off0).isin(0, 1)


def token_account_table(raw: DataFrame) -> DataFrame:
    return decode_token_account(token_latest(raw))


def decode_token_account(latest: DataFrame) -> DataFrame:
    """T1 with full unpack validation: the reference's
    ``spl_token::state::Account::unpack`` rejects rows whose state byte
    is not a valid AccountState (0|1|2), whose state is Uninitialized
    (0), or whose COption tags are malformed — all three reject the
    entire row, not individual fields."""
    d = F.col("data")
    return (
        latest.filter(F.col("data_len") == S.SPL_ACCOUNT_LEN)
        .filter(
            u8_at(d, 108).isin(1, 2)  # valid AND initialized state
            & _coption_tag_ok(d, 72)  # delegate
            & _coption_tag_ok(d, 109)  # is_native
            & _coption_tag_ok(d, 129)  # close_authority
        )
        .select(
            "pubkey",
            pubkey_at(d, 0).alias("mint"),
            pubkey_at(d, 32).alias("owner"),
            le_u64(d, 64).alias("amount"),
            coption_pubkey(d, 72).alias("delegate"),
            u8_at(d, 108).cast("int").alias("state"),
            coption_u64(d, 109).alias("is_native"),
            le_u64(d, 121).alias("delegated_amount"),
            coption_pubkey(d, 129).alias("close_authority"),
        )
    )


def token_mint_table(raw: DataFrame) -> DataFrame:
    return decode_token_mint(token_latest(raw))


def decode_token_mint(latest: DataFrame) -> DataFrame:
    """T2 with unpack validation: ``Mint::unpack`` requires the
    is_initialized byte to be exactly 1 (0 = uninitialized is skipped,
    >1 fails the bool parse) and valid COption tags."""
    d = F.col("data")
    return (
        latest.filter(F.col("data_len") == S.SPL_MINT_LEN)
        .filter(
            (u8_at(d, 45) == 1)
            & _coption_tag_ok(d, 0)  # mint_authority
            & _coption_tag_ok(d, 46)  # freeze_authority
        )
        .select(
            "pubkey",
            coption_pubkey(d, 0).alias("mint_authority"),
            le_u64(d, 36).alias("supply"),
            u8_at(d, 44).cast("int").alias("decimals"),
            bool_at(d, 45).alias("is_initialized"),
            coption_pubkey(d, 46).alias("freeze_authority"),
        )
    )


def token_multisig_table(raw: DataFrame) -> DataFrame:
    return decode_token_multisig(token_latest(raw))


def decode_token_multisig(latest: DataFrame) -> DataFrame:
    """T3 decode + X2 explode: one row per (pubkey, signer), only the
    first n of the 11 signer slots are valid (sqlite.rs:315-322).
    ``Multisig::unpack`` requires is_initialized (byte 2) == 1."""
    d = F.col("data")
    signers = F.array(
        *[pubkey_at(d, 3 + 32 * i) for i in range(S.MAX_MULTISIG_SIGNERS)]
    )
    n = u8_at(d, 1).cast("int")
    return (
        latest.filter(F.col("data_len") == S.SPL_MULTISIG_LEN)
        .filter(u8_at(d, 2) == 1)
        .select(
            "pubkey",
            F.explode(F.slice(signers, 1, n)).alias("signer"),
            u8_at(d, 0).cast("int").alias("m"),
            n.alias("n"),
        )
    )


# --- T4: Metaplex Borsh metadata (pandas UDF — variable-length) -------------

# plain constants for worker-executed code: a module-object global
# (``S.``) inside a UDF pickles as an import and breaks on workers
# that can't import this package (see _pickle.py)
_META_V1_KEY = S.METADATA_V1_KEY
_META_COLS = [f.name for f in S.METADATA_DECODE_SCHEMA.fields]


def _parse_metadata(b: bytes):
    """Borsh walk of MetadataV1 + best-effort tail extensions
    (reference mpl_metadata.rs:6-85, sqlite.rs:326-360). Returns None
    to skip (L1) on any malformed required body — slightly more lenient
    than the reference, which hard-errors on malformed V1 bodies."""
    if not b or b[0] != _META_V1_KEY:
        return None
    try:
        o = 1
        if len(b) < o + 64:
            return None
        mint = bytes(b[o + 32 : o + 64])
        o += 64

        def borsh_string():
            nonlocal o
            if len(b) < o + 4:
                raise ValueError("eof")
            ln = int.from_bytes(b[o : o + 4], "little")
            o += 4
            if ln > len(b) - o:
                raise ValueError("eof")
            raw = b[o : o + ln]
            o += ln
            # DELIBERATE DIVERGENCE from the reference: Metaplex Borsh
            # strings are stored NUL-padded on chain and the reference
            # (solana-snapshot-etl/src/programs.rs) keeps the padding
            # verbatim; we strip trailing NULs so downstream SQL string
            # functions (length, LIKE, joins on symbol) behave sanely.
            # Documented in COVERAGE.md "deliberate divergences".
            return raw.rstrip(b"\x00").decode("utf-8")

        name, symbol, uri = borsh_string(), borsh_string(), borsh_string()
        if len(b) < o + 3:
            raise ValueError("eof")
        sfbp = int.from_bytes(b[o : o + 2], "little")
        o += 2
        if b[o] == 1:  # creators Option<Vec<Creator>>
            o += 1
            cnt = int.from_bytes(b[o : o + 4], "little")
            o += 4 + cnt * 34
        else:
            o += 1
        if len(b) < o + 2:
            raise ValueError("eof")
        psh, mut = b[o] != 0, b[o + 1] != 0
        o += 2
    except (ValueError, UnicodeDecodeError, IndexError):
        return None

    # extensions parse best-effort (sqlite.rs:344-347): absent/short
    # tails leave the fields null, never fail the row
    en = cv = ck = None
    try:
        if o < len(b):
            tag = b[o]
            o += 1
            if tag == 1:
                en = b[o]
                o += 1
        if o < len(b):  # v1.2: token_standard (not materialized)
            tag = b[o]
            o += 1
            if tag == 1:
                o += 1
        if o < len(b):  # collection {verified, key}
            tag = b[o]
            o += 1
            if tag == 1:
                cv = b[o] != 0
                ck = bytes(b[o + 1 : o + 33])
                if len(ck) < 32:
                    cv, ck = None, None
    except IndexError:
        en = en if isinstance(en, int) else None
    return (mint, name, symbol, uri, sfbp, psh, mut, en, cv, ck)


@F.pandas_udf(S.METADATA_DECODE_SCHEMA)
def _decode_metadata_udf(data: pd.Series) -> pd.DataFrame:
    out = [_parse_metadata(bytes(v) if v is not None else None) for v in data]
    return pd.DataFrame(
        [r if r is not None else (None,) * len(_META_COLS) for r in out],
        columns=_META_COLS,
    )


def metadata_decode(df: DataFrame, data_col: str = "data") -> DataFrame:
    """T4 as PURE Catalyst expressions — the Borsh walk of
    :func:`_parse_metadata` re-expressed with dynamic-offset column
    reads (``Column.substr`` takes Column positions), so the decode
    stays inside whole-stage codegen with no Python worker at all.
    NULL struct ⇔ the UDF's ``None`` (row skipped, L1 leniency);
    equivalence with the UDF is pinned by a fixture + fuzz
    differential test (tests/test_decoders.py).

    Built as STAGED projections, not one nested Column: each variable
    offset (string ends, creators end, extension cursor) becomes a
    named intermediate, because inlining them naively duplicates each
    predecessor's subtree ~4× per level (the 4-byte dynamic LE read) —
    a ~10⁵-node expression that stalls analysis. CollapseProject keeps
    multiply-referenced non-cheap aliases materialized, so each
    intermediate is computed once per row. The expression tree itself
    is kept in the session memo per SparkContext — repeat invocations
    skip the py4j construction cost entirely. Returns ``df`` plus an
    ``m`` struct column (null = skip row)."""
    from pyspark import SparkContext

    from solana_snapshot_etl_tools_spark.session import memo

    # The decode's Column tree is DataFrame-independent (every
    # reference is by name), but BUILDING it costs ~1 s of py4j chatter
    # per call — quiet-profiled at ~1.0 s build / 0.44 s execute per
    # invocation at sf0.1, the whole of the r15 bench-gate regression
    # on this query. Unresolved Columns are plain JVM expression
    # wrappers, reusable across DataFrames of one JVM, so the (ordered
    # stage dicts, m expression) pair is memoized per (context,
    # data_col): a restarted context gets a fresh entry; stale entries
    # are a few kilobytes of dead j-refs. The entry holds py4j
    # references, so it must never be pickled.
    stages, m = memo(
        "metadata_exprs",
        (id(SparkContext._active_spark_context), data_col),
        lambda: _metadata_decode_exprs(data_col),
    )
    s = df
    for cols in stages:
        s = s.withColumns(cols)
    helper = [f for f in s.columns if f.startswith("_")]
    return s.withColumn("m", m).drop(*helper)


def _metadata_decode_exprs(data_col: str):
    d = F.col(data_col)
    stages: list[dict] = []

    def stage(_ignored=None, **cols):
        stages.append(dict(cols))

    c = F.col
    # name / symbol / uri: length, bounds-ok, value, next offset.
    # KEY SIZE DISCIPLINE: every stage re-bases onto a SLICED column as
    # soon as the offset is variable, so no later expression carries a
    # dynamic offset into the full buffer. Offsets into a slice are
    # tiny scalar expressions; offsets into `data` that chain through
    # earlier variable lengths are what made the optimizer tree explode
    # (each level multiplies its predecessor's subtree).
    #
    # STAGE BUDGET: each expensive dynamic read (le_u32_dyn, substr_dyn,
    # u8_at_dyn) gets a named column computed exactly once; the byte
    # OFFSETS between them are flat lit+attribute sums (p2=69+_nl,
    # p3=73+_nl+_sl, p4=77+_nl+_sl+_ul) and are inlined rather than
    # staged — duplicating an attribute reference is free, and every
    # avoided withColumns call is one less Project for the analyzer to
    # walk (the ~20-stage round-3 shape spent ~0.7 s/invocation in
    # planning; this 11-stage shape is the same dataflow).
    p4 = F.lit(77) + c("_nl") + c("_sl") + c("_ul")
    stage(_L=F.length(d).cast("long"), _nl=le_u32_dyn(d, F.lit(65).cast("long")))
    stage(_sl=le_u32_dyn(d, F.lit(69) + c("_nl")))
    stage(_ul=le_u32_dyn(d, F.lit(73) + c("_nl") + c("_sl")))
    stage(
        _raw_name=substr_dyn(d, F.lit(69).cast("long"), c("_nl")),
        _raw_sym=substr_dyn(d, F.lit(73) + c("_nl"), c("_sl")),
        _raw_uri=substr_dyn(d, F.lit(77) + c("_nl") + c("_sl"), c("_ul")),
        # everything after uri re-based: sfbp..creators-tag..count (9 B)
        _mid=substr_dyn(d, p4, F.lit(9)),
        _rest=c("_L") - p4,  # bytes available from p4 on
        _p4=p4,
    )
    # creators Option<Vec<Creator{32+1+1}>>: tag != 1 skips one byte
    # (the reference walk applies no tag validation either).
    # _o2r = offset of primary_sale_happened RELATIVE to _p4.
    stage(
        _o2r=F.when(u8_at(c("_mid"), 2) == 1, F.lit(7) + le_u32(c("_mid"), 3) * 34)
        .otherwise(F.lit(3)),
    )
    # pm = psh+mut bytes; tail = extension region (≤ 38 B used; 40 is
    # enough for nonce(2) + token_standard(2) + collection(34) + slack)
    stage(
        _pm=substr_dyn(d, c("_p4") + c("_o2r"), F.lit(2)),
        _tail=substr_dyn(d, c("_p4") + c("_o2r") + 2, F.lit(40)),
    )
    # best-effort tail extensions over the re-based slice (absent/short
    # ⇒ null fields, never a skipped row). All offsets below are small
    # scalars relative to _tail; _tl compares are exact because every
    # probed offset is < 40. ``_dead`` mirrors the UDF's IndexError on
    # a truncated Some(edition_nonce), which aborts the remaining tail.
    t = c("_tail")
    stage(_tl=F.length(t), _t1=u8_at(t, 0))
    stage(
        _dead=(c("_tl") >= 1) & (c("_t1") == 1) & (c("_tl") < 2),
        _en=F.when(
            (c("_tl") >= 2) & (c("_t1") == 1), u8_at(t, 1)
        ).cast("int"),
        # token_standard tag position relative to _tail
        _d2=F.when(c("_tl") >= 1, F.when(c("_t1") == 1, 2).otherwise(1)).otherwise(0),
    )
    stage(_t2=u8_at_dyn(t, c("_d2").cast("long")))
    stage(
        _d3=F.when(
            (~c("_dead")) & (c("_tl") > c("_d2")),
            c("_d2") + F.when(c("_t2") == 1, 2).otherwise(1),
        ).otherwise(c("_d2")),
    )
    stage(
        _t3=u8_at_dyn(t, c("_d3").cast("long")),
        _ckv=substr_dyn(t, c("_d3").cast("long") + 2, F.lit(32)),
    )
    stage(
        _c_ok=(~c("_dead"))
        & (c("_tl") > c("_d3"))
        & (c("_t3") == 1)
        & (c("_tl") > c("_d3") + 1)
        & (F.length(c("_ckv")) == 32),
    )
    body_ok = (
        (c("_L") >= 65)
        & (u8_at(d, 0) == F.lit(S.METADATA_V1_KEY))
        & (c("_L") >= 69)
        & (c("_nl") <= c("_L") - 69)
        & F.is_valid_utf8(c("_raw_name"))
        & (c("_L") >= F.lit(73) + c("_nl"))
        & (c("_sl") <= c("_L") - 73 - c("_nl"))
        & F.is_valid_utf8(c("_raw_sym"))
        & (c("_L") >= F.lit(77) + c("_nl") + c("_sl"))
        & (c("_ul") <= c("_L") - 77 - c("_nl") - c("_sl"))
        & F.is_valid_utf8(c("_raw_uri"))
        & (c("_rest") >= 3)
        & (c("_rest") >= c("_o2r") + 2)
    )

    def strip(col):
        # NUL-strip divergence, same as the UDF (COVERAGE.md)
        return F.regexp_replace(col.cast("string"), "\x00+$", "")

    m = F.when(
        body_ok,
        F.struct(
            pubkey_at(d, 33).alias("mint"),
            strip(c("_raw_name")).alias("name"),
            strip(c("_raw_sym")).alias("symbol"),
            strip(c("_raw_uri")).alias("uri"),
            le_u16(c("_mid"), 0).cast("int").alias("seller_fee_basis_points"),
            bool_at(c("_pm"), 0).alias("primary_sale_happened"),
            bool_at(c("_pm"), 1).alias("is_mutable"),
            c("_en").alias("edition_nonce"),
            F.when(c("_c_ok"), u8_at_dyn(t, c("_d3").cast("long") + 1) != 0).alias(
                "collection_verified"
            ),
            F.when(c("_c_ok"), c("_ckv")).alias("collection_key"),
        ),
    )
    return stages, m


def token_metadata_table(raw: DataFrame) -> DataFrame:
    """F2 + F12 + T4: Metaplex-owned, non-empty data, Borsh-decoded —
    entirely JVM-side since round 3 (:func:`metadata_decode`); the
    pandas UDF remains only as the differential-test reference.

    ORDER MATTERS: decode runs BEFORE the last-write-wins aggregate,
    and the aggregate carries the decoded struct. Row-wise decode
    commutes with per-pubkey max, so results are identical — but the
    Aggregate doubles as an optimizer barrier: predicate pushdown
    substitutes alias chains into any filter it moves through a
    Project, and the decode's staged variable-offset walk re-inlines
    multiplicatively (PushPredicateThroughNonJoin.trimAliases tree-copy
    measured at minutes-long; jstack-confirmed). Filters on decoded
    fields — ours below, or any a user adds — stop at the Aggregate
    instead of detonating. Bonus at scale: the shuffle ships the
    compact decoded struct, not the raw account bytes."""
    meta = raw.filter(
        (F.col("owner") == F.lit(S.MPL_METADATA_PROGRAM_ID))
        & (F.length("data") > 0)
    )
    latest = dedup_last_write_wins(metadata_decode(meta))
    return latest.filter(F.col("m.mint").isNotNull()).select("pubkey", "m.*")


# --- T5/F3/F4: program ELF extraction (reference programs.rs:25-62) ---------


def program_elfs_table(raw: DataFrame) -> DataFrame:
    """(pubkey, elf) for every on-chain program: legacy loaders dump
    account data directly (executable only, F3); the upgradeable
    loader's ProgramData accounts carry the ELF at byte 45 (T5)."""
    win = dedup_last_write_wins(raw)
    legacy = win.filter(
        F.col("owner").isin([S.BPF_LOADER_DEPRECATED_ID, S.BPF_LOADER_ID])
        & F.col("executable")
    ).select("pubkey", F.col("data").alias("elf"))
    upgradeable = (
        win.filter(
            (F.col("owner") == F.lit(S.BPF_LOADER_UPGRADEABLE_ID))
            & (F.col("data_len") > S.PROGRAMDATA_ELF_OFFSET)
        )
        .filter(le_u32(F.col("data"), 0) == S.PROGRAMDATA_TAG)
        .select(
            "pubkey",
            F.expr(
                f"substring(data, {S.PROGRAMDATA_ELF_OFFSET + 1}, "
                f"octet_length(data) - {S.PROGRAMDATA_ELF_OFFSET})"
            ).alias("elf"),
        )
    )
    return legacy.unionByName(upgradeable)


# --- T6/F10: off-chain URI extraction (geyser/src/plugin.rs:190-195) --------

OFFCHAIN_URI_OFFSET = 119  # 1+32+32+4+32+4+10+4
OFFCHAIN_URI_LEN = 200


def offchain_uri() -> Column:
    """The fixed-offset URI slice of ``data`` as a string with its NUL
    padding stripped; NULL when the slice is not valid UTF-8. The
    binary→string cast does not validate UTF-8, so it is gated on
    is_valid_utf8 to match the reference's str::from_utf8(...).ok()
    semantics. Shared by the batch table and the Geyser stream."""
    sliced = F.substring(
        F.col("data"), OFFCHAIN_URI_OFFSET + 1, OFFCHAIN_URI_LEN
    ).cast("string")
    return F.when(F.is_valid_utf8(sliced), F.regexp_replace(sliced, "\x00+$", ""))


def offchain_uri_table(raw: DataFrame) -> DataFrame:
    """Fixed-offset URI slice; row passes only when the discriminator
    is MetadataV1 (data[0]==4), the slice exists in full, and it
    decodes as UTF-8 — otherwise skipped, matching the reference's
    Option-returning extraction."""
    win = dedup_last_write_wins(
        raw.filter(F.col("owner") == F.lit(S.MPL_METADATA_PROGRAM_ID))
    )
    return (
        win.filter(
            (u8_at(F.col("data"), 0) == S.METADATA_V1_KEY)
            & (F.col("data_len") >= OFFCHAIN_URI_OFFSET + OFFCHAIN_URI_LEN)
        )
        .select("pubkey", offchain_uri().alias("uri"))
        .filter(F.col("uri").isNotNull())
    )


# --- F6: deletion events -----------------------------------------------------


def deletion_event() -> Column:
    """F6: account closed — zero lamports, empty data, system-program
    owner (reference selectors.rs:48-55). Shared by the batch table
    and the Geyser account selector."""
    return (
        (F.col("lamports") == 0)
        & (F.coalesce(F.length("data"), F.lit(0)) == 0)
        & (F.col("owner") == F.lit(S.SYSTEM_PROGRAM_ID))
    )


def deletion_events(raw: DataFrame) -> DataFrame:
    return raw.filter(deletion_event())


def hex_col(c: str | Column) -> Column:
    return F.hex(F.col(c) if isinstance(c, str) else c)


# ship this module's functions by value inside serialized UDF tasks
# (workers do not share the driver's sys.path — see _pickle.py)
from solana_snapshot_etl_tools_spark._pickle import register_self as _rs  # noqa: E402

_rs(__name__)
