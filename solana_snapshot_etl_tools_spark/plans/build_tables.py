"""Full batch table build — parity with ``solana-snapshot-etl
--sqlite-out`` (reference main.rs:59-122, sqlite.rs:91-188).

``build_all_tables`` materializes the five derived tables from a raw
accounts DataFrame. Writes are atomic in the reference's spirit
(temp file + rename, sqlite.rs:41-47, 437-462): each table lands in
``<table>._tmp.<uuid>`` and is renamed into place only after the
write succeeds, so readers never observe a half-written table.

Row counters (A4, sqlite.rs:27-36) are collected via ``observe`` —
metric collection without a second pass over the data.

Scale notes: tables are written partitioned where a natural key
exists (account: bucketed owner prefix) so downstream owner-filtered
queries prune partitions. For the canonical cross-table join —
token_account ⋈ token_metadata on mint (the NFT-holdings query over
the reference's SQLite tables, solana-snapshot-etl/README.md:76-83) —
``build_bucketed_token_tables`` writes both sides ``bucketBy(mint)``
so the join is Exchange-free at any scale: each bucket pair is
co-located by construction, and the 100 TB replay pays zero shuffle
on what is otherwise the biggest two-table join in the schema
(``tests/test_build_tables.py`` asserts the shuffle-free plan).

One scan per build: like the reference, which walks each AppendVec
once and hands every account to every sink, ``build_all_tables``,
``build_sqlite`` and ``build_bucketed_token_tables`` decode the
archive once. The scan is a lazy ``localCheckpoint`` — filled by the
first job that reads it, so it adds no job — and the three SPL token
tables share one lazily checkpointed last-write-wins dedup
(``decoders.token_latest``). The trade: the scan is spilled once to
executor storage (``MEMORY_AND_DISK``) instead of being decoded five
times, and its blocks are lost with their executor, so losing an
executor mid-build fails the build instead of recomputing the scan.
``streaming.ingest`` and ``dedup.connected_components`` take the same
stance. Both checkpoints are released once the build's last write
ends, whether it succeeded or not.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, functions as F

from solana_snapshot_etl_tools_spark.operators import decoders as D
from solana_snapshot_etl_tools_spark.session import (
    checkpoint_for_session,
    is_session_checkpoint,
    release_frame,
)

TABLES = (
    "account",
    "token_account",
    "token_mint",
    "token_multisig",
    "token_metadata",
)


def _tables(raw: DataFrame, latest: DataFrame) -> dict[str, DataFrame]:
    """The five tables from ``raw`` and its ``D.token_latest(raw)``."""
    return {
        "account": D.account_table(raw),
        "token_account": D.decode_token_account(latest),
        "token_mint": D.decode_token_mint(latest),
        "token_multisig": D.decode_token_multisig(latest),
        "token_metadata": D.token_metadata_table(raw),
    }


def build_tables(raw: DataFrame) -> dict[str, DataFrame]:
    """The five derived DataFrames (no materialization)."""
    return _tables(raw, D.token_latest(raw))


@contextlib.contextmanager
def _shared_tables(raw: DataFrame):
    """:func:`build_tables` over one lazily checkpointed scan of
    ``raw`` and one checkpointed token dedup, both released when the
    build ends. A ``raw`` that is already a session checkpoint (the
    snapshot CLI's scan shared by several sinks) is read as it is and
    left to its owner."""
    frames = []
    try:
        scan = raw
        if not is_session_checkpoint(raw):
            scan = checkpoint_for_session(raw, eager=False)
            frames.append(scan)
        latest = checkpoint_for_session(D.token_latest(scan), eager=False)
        frames.append(latest)
        yield _tables(scan, latest)
    finally:
        for df in frames:
            release_frame(df)


def _atomic_write_parquet(df: DataFrame, dest: str) -> None:
    """K2 atomic promotion: write to a temp dir, rename into place."""
    tmp = f"{dest}._tmp.{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.rename(tmp, dest)


def build_all_tables(raw: DataFrame, out_dir: str) -> dict[str, int]:
    """Materialize all five tables under ``out_dir``; returns observed
    row counts per table (A4 counters)."""
    os.makedirs(out_dir, exist_ok=True)
    counts: dict[str, int] = {}
    with _shared_tables(raw) as tables:
        for name, df in tables.items():
            obs = Observation(f"rows_{name}")
            observed = df.observe(obs, F.count(F.lit(1)).alias("n"))
            _atomic_write_parquet(observed, os.path.join(out_dir, name))
            counts[name] = obs.get["n"]
    return counts


# --- true SQLite output (K2 parity) -----------------------------------------

# The reference's primary deliverable is a real snapshot.db readable by
# any SQLite client (README "SQLite3 (recommended)"). DDL below is the
# reference's verbatim (sqlite.rs:96-162); pragmas match create_db
# (sqlite.rs:93-96); the temp-file-promotion protocol matches
# SqliteIndexer::new (sqlite.rs:39-47); writes are INSERT OR REPLACE
# (sqlite.rs:221,270,292,312,373).

_SQLITE_DDL = {
    "account": """CREATE TABLE account  (
    pubkey BLOB(32) NOT NULL PRIMARY KEY,
    data_len INTEGER(8) NOT NULL,
    owner BLOB(32) NOT NULL,
    lamports INTEGER(8) NOT NULL,
    executable INTEGER(1) NOT NULL,
    rent_epoch INTEGER(8) NOT NULL
)""",
    "token_mint": """CREATE TABLE token_mint (
    pubkey BLOB(32) NOT NULL PRIMARY KEY,
    mint_authority BLOB(32) NULL,
    supply INTEGER(8) NOT NULL,
    decimals INTEGER(2) NOT NULL,
    is_initialized BOOL NOT NULL,
    freeze_authority BLOB(32) NULL
)""",
    "token_account": """CREATE TABLE token_account (
    pubkey BLOB(32) NOT NULL PRIMARY KEY,
    mint BLOB(32) NOT NULL,
    owner BLOB(32) NOT NULL,
    amount INTEGER(8) NOT NULL,
    delegate BLOB(32),
    state INTEGER(1) NOT NULL,
    is_native INTEGER(8),
    delegated_amount INTEGER(8) NOT NULL,
    close_authority BLOB(32)
)""",
    "token_multisig": """CREATE TABLE token_multisig (
    pubkey BLOB(32) NOT NULL,
    signer BLOB(32) NOT NULL,
    m INTEGER(2) NOT NULL,
    n INTEGER(2) NOT NULL,
    PRIMARY KEY (pubkey, signer)
)""",
    "token_metadata": """CREATE TABLE token_metadata (
    pubkey BLOB(32) NOT NULL,
    mint BLOB(32) NOT NULL,
    name TEXT(32) NOT NULL,
    symbol TEXT(10) NOT NULL,
    uri TEXT(200) NOT NULL,
    seller_fee_basis_points INTEGER(4) NOT NULL,
    primary_sale_happened INTEGER(1) NOT NULL,
    is_mutable INTEGER(1) NOT NULL,
    edition_nonce INTEGER(2) NULL,
    collection_verified INTEGER(1) NULL,
    collection_key BLOB(32) NULL
)""",
}


def _sqlite_cell(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def build_sqlite(raw: DataFrame, db_path: str, batch_rows: int = 5000) -> dict[str, int]:
    """K2 as the reference actually ships it: one ``snapshot.db`` file
    with the five tables, reference-verbatim DDL and pragmas, written
    to ``_<name>.tmp`` and promoted by rename only on success.

    Rows stream through the driver via ``toLocalIterator`` — one
    partition resident at a time. That driver-side edge is inherent to
    the target, not a shortcut: SQLite admits exactly one writer, so
    the reference's own indexer is the same single-writer topology.
    The distributed analog (parquet dirs, atomic per-table promotion)
    is ``build_all_tables``; this sink exists so a reference user's
    downstream SQLite tooling works unchanged. Returns per-table row
    counts (the reference's progress-counter totals, sqlite.rs:27-36).
    """
    import sqlite3

    d = os.path.dirname(os.path.abspath(db_path)) or "."
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f"_{os.path.basename(db_path)}.tmp")
    if os.path.exists(tmp):
        os.remove(tmp)
    con = sqlite3.connect(tmp)
    try:
        con.execute("PRAGMA synchronous = OFF")
        con.execute("PRAGMA journal_mode = OFF")
        con.execute("PRAGMA locking_mode = EXCLUSIVE")
        for ddl in _SQLITE_DDL.values():
            con.execute(ddl)
        counts: dict[str, int] = {}
        with _shared_tables(raw) as tables:
            for name, df in tables.items():
                cols = df.columns
                sql = (
                    f"INSERT OR REPLACE INTO {name} ({', '.join(cols)}) "
                    f"VALUES ({', '.join('?' * len(cols))})"
                )
                n, batch = 0, []
                for row in df.toLocalIterator():
                    batch.append(tuple(_sqlite_cell(v) for v in row))
                    if len(batch) >= batch_rows:
                        con.executemany(sql, batch)
                        n += len(batch)
                        batch = []
                if batch:
                    con.executemany(sql, batch)
                    n += len(batch)
                counts[name] = n
        con.commit()
    except BaseException:
        con.close()
        os.remove(tmp)
        raise
    con.close()
    os.replace(tmp, db_path)
    return counts


# --- bucketed token tables: shuffle-free mint join at scale -----------------


def write_bucketed(
    df: DataFrame,
    table_name: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed external-table write (``bucketBy`` requires the
    catalog, so this is ``saveAsTable`` with an explicit path). Both
    sides of a recurring join written with the same bucket spec join
    without any Exchange."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def build_bucketed_token_tables(
    raw: DataFrame, out_dir: str, n_buckets: int = 32
) -> None:
    """Write token_account and token_metadata bucketed by ``mint`` —
    the join key of the canonical NFT query — as catalog tables
    ``token_account_bkt`` / ``token_metadata_bkt``."""
    os.makedirs(out_dir, exist_ok=True)
    with _shared_tables(raw) as tables:
        for name in ("token_account", "token_metadata"):
            write_bucketed(
                tables[name],
                f"{name}_bkt",
                os.path.join(out_dir, f"{name}_bkt"),
                ["mint"],
                n_buckets,
                sort_cols=["mint"],
            )


def nft_holdings(spark) -> DataFrame:
    """The canonical NFT-holdings join over the bucketed tables:
    who holds each token, with its Metaplex name/symbol/uri
    (reference README's SQLite use case). Over matching bucket specs
    this plan contains no Exchange on either join side."""
    ta = spark.table("token_account_bkt")
    tm = spark.table("token_metadata_bkt")
    return (
        ta.filter(F.col("amount") > 0)
        .join(tm, "mint")
        .select(
            "mint",
            ta["pubkey"].alias("token_account"),
            ta["owner"].alias("holder"),
            "amount",
            "name",
            "symbol",
            "uri",
        )
    )


# --- §2.8 decoder registry: owner program → typed-view decoder --------------

DECODER_REGISTRY = {
    "token_account": D.token_account_table,
    "token_mint": D.token_mint_table,
    "token_multisig": D.token_multisig_table,
    "token_metadata": D.token_metadata_table,
    "program_elfs": D.program_elfs_table,
    "offchain_uri": D.offchain_uri_table,
}


def register_decoder(name: str, fn) -> None:
    """Extension point mirroring the reference's hardcoded decode
    dispatch (sqlite.rs:206-216): plug in a new
    ``raw DataFrame → typed DataFrame`` decoder under a table name."""
    DECODER_REGISTRY[name] = fn


def decode(raw: DataFrame, name: str) -> DataFrame:
    return DECODER_REGISTRY[name](raw)
