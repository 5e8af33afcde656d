"""Geyser-parity streaming pipelines (SURVEY.md §2.6).

The reference's Geyser plugin is a stateless filter+map+route over
validator callbacks (geyser/src/plugin.rs). Every pipeline here is a
pure DataFrame transformation, so the SAME function serves:

- batch replay (the driver's oracle-checked queries), and
- Structured Streaming (`spark.readStream` in, `writeStream` out),

because Spark's streaming DataFrames share the batch expression
surface. Micro-batch + checkpointed sinks give at-least-once delivery
— strictly stronger than the reference's fire-and-forget tokio spawn
(plugin.rs:46-52, errors logged and dropped).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.operators.decoders import (
    OFFCHAIN_URI_LEN,
    OFFCHAIN_URI_OFFSET,
    deletion_event,
    offchain_uri,
)

# --- selectors (F5-F10, geyser/src/selectors.rs) ----------------------------


def account_selector(
    owners: list[bytes] | None = None,
    select_deletions: bool = True,
    startup: bool | None = None,
) -> Column:
    """F5+F6+F7 combined, reference semantics (selectors.rs:42-78):
    a deletion event is selected unconditionally (the reference's
    early `return true` fires BEFORE the startup check), then the
    startup tri-state AND the owner filter apply to everything else;
    empty/None owner set passes everything."""
    cond = F.lit(True) if not owners else F.col("owner").isin(list(owners))
    if startup is not None:
        cond = (F.col("is_startup") == F.lit(startup)) & cond
    if select_deletions:
        cond = deletion_event() | cond
    return cond


def transaction_selector(programs: list[bytes]) -> Column:
    """F8+F9 (plugin.rs:330-339): drop failed transactions; pass iff
    any account key is in the configured program set (empty set
    disables transaction notifications entirely)."""
    if not programs:
        return F.lit(False)
    progs = F.array(*[F.lit(p) for p in programs])
    return F.col("status_ok") & F.arrays_overlap(F.col("account_keys"), progs)


# --- ST1: account update stream ---------------------------------------------


def account_update_stream(
    updates: DataFrame,
    owners: list[bytes] | None = None,
    select_deletions: bool = True,
    startup: bool | None = None,
) -> DataFrame:
    """Selector filter → owned AccountUpdate projection
    (plugin.rs:136-294, serializer geyser.rs:13-33)."""
    return updates.filter(
        account_selector(owners, select_deletions, startup)
    ).select(
        "key", "lamports", "owner", "executable", "rent_epoch", "data",
        "write_version", "slot", "is_startup",
    )


# --- ST2: derived off-chain metadata stream (fan-out 1→2) --------------------


def offchain_fanout_stream(
    updates: DataFrame, with_context: bool = False
) -> DataFrame:
    """Same source, second output: Metaplex-owned account with
    MetadataV1 discriminator → (key, uri) when the fixed-offset URI
    region is present and valid UTF-8 (plugin.rs:185-215).

    ``with_context=True`` additionally carries (slot, is_startup) —
    the fields the reference's NftOffChainDataNotify envelope sends
    (serializer mod.rs:540-557); the default stays the minimal (key,
    uri) pair the driver-checked query uses."""
    extra = ["slot", "is_startup"] if with_context else []
    return (
        updates.filter(
            (F.col("owner") == F.lit(S.MPL_METADATA_PROGRAM_ID))
            & (F.length("data") >= OFFCHAIN_URI_OFFSET + OFFCHAIN_URI_LEN)
            & (F.substring("data", 1, 1) == F.lit(bytes([S.METADATA_V1_KEY])))
        )
        .select("key", offchain_uri().alias("uri"), *extra)
        .filter(F.col("uri").isNotNull())
    )


# --- ST3: finalized-slot stream ----------------------------------------------


def rooted_slot_stream(slots: DataFrame) -> DataFrame:
    """Only Rooted forwarded; Processed/Confirmed dropped
    (plugin.rs:296-318)."""
    return slots.filter(F.col("status") == "rooted").select("slot")


# --- ST4: transaction stream --------------------------------------------------


def transaction_stream(txs: DataFrame, programs: list[bytes]) -> DataFrame:
    return txs.filter(transaction_selector(programs))


# --- ST5: block metadata stream ----------------------------------------------


def block_metadata_stream(blocks: DataFrame) -> DataFrame:
    """Null-defaulting map (T10, serializer geyser.rs:193-201):
    block_time/block_height → 0."""
    return blocks.select(
        "slot",
        "blockhash",
        "rewards",
        F.coalesce("block_time", F.lit(0)).alias("block_time"),
        F.coalesce("block_height", F.lit(0)).alias("block_height"),
    )


# --- topic routing (K5, geyser/src/sender.rs:49-105) -------------------------

TOPICS = {
    "account": "update_account",
    "offchain": "nft_offchain_data",
    "slot": "finalized_slot",
    "transaction": "notify_transaction",
    "block": "notify_block",
}


def parse_account_update_json(frame: DataFrame) -> DataFrame:
    """T11 — consumer-side inverse of the routed account message: a
    (value: json string) frame back to the typed AccountUpdate columns
    (reference flatbuffer/mod.rs:582-608 deserialize; we use from_json
    on the same envelope routed_messages produces). Binary fields ride
    base64 inside JSON (to_json's binary encoding)."""
    json_schema = (
        "key string, lamports long, owner string, executable boolean, "
        "rent_epoch long, data string, write_version long, slot long, "
        "is_startup boolean"
    )
    p = F.from_json("value", json_schema)
    return frame.select(
        F.unbase64(p["key"]).alias("key"),
        p["lamports"].alias("lamports"),
        F.unbase64(p["owner"]).alias("owner"),
        p["executable"].alias("executable"),
        p["rent_epoch"].alias("rent_epoch"),
        F.unbase64(p["data"]).alias("data"),
        p["write_version"].alias("write_version"),
        p["slot"].alias("slot"),
        p["is_startup"].alias("is_startup"),
    )


def _pack_fb(df: DataFrame, topic: str, key: Column, kind: str) -> DataFrame:
    """(typed columns) → (topic, key, value=FlatBuffers binary) via an
    Arrow-batched mapInPandas — serialization is genuinely per-row
    variable-length work, the repo's criterion for leaving codegen.

    The transaction kind crosses to Python as a single JVM-built
    ``to_json`` string column: its deeply nested schema segfaults this
    Spark build's Arrow collect/transfer path (flat schemas are fine),
    and a flat string column is Arrow-safe at any scale."""
    from solana_snapshot_etl_tools_spark.functions.base58 import b58encode
    from solana_snapshot_etl_tools_spark.streaming import fbs

    topic_name = TOPICS[topic]
    if kind == "transaction":
        df = df.select(
            key.cast("string").alias("__key"),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("__json"),
        )
    else:
        df = df.withColumn("__key", key.cast("string"))

    def gen(it):
        import pandas as pd

        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            keys = pdf["__key"].astype(str).tolist()
            if kind == "transaction":
                vals = [fbs.serialize_transaction_json(j) for j in pdf["__json"]]
            elif kind == "slot":
                vals = [fbs.serialize_finalized_slot(s) for s in pdf["slot"]]
            elif kind == "offchain":
                vals = [
                    fbs.serialize_metadata_off_chain(
                        {
                            "pubkey": b58encode(rec["key"]),
                            "uri": rec["uri"],
                            "slot": rec.get("slot", 0),
                            "is_startup": rec.get("is_startup", False),
                        }
                    )
                    for rec in pdf.drop(columns="__key").to_dict("records")
                ]
            else:
                ser = fbs.SERIALIZERS[kind]
                vals = [
                    ser(rec)
                    for rec in pdf.drop(columns="__key").to_dict("records")
                ]
            yield pd.DataFrame(
                {"topic": [topic_name] * n, "key": keys, "value": vals}
            )

    return df.mapInPandas(gen, "topic string, key string, value binary")


def routed_messages(
    updates: DataFrame,
    slots: DataFrame,
    blocks: DataFrame,
    txs: DataFrame,
    owners: list[bytes] | None = None,
    tx_programs: list[bytes] | None = None,
    wire: str = "json",
) -> DataFrame:
    """Union of all five message types as (topic, key, value) — the
    exact shape Spark's Kafka sink routes natively on the `topic`
    column.

    ``wire="json"`` (default) emits a ``to_json`` envelope of the
    typed struct; ``wire="flatbuffer"`` emits the reference's default
    FlatBuffers wire format (serializer mod.rs:32-567 dispatch —
    see streaming/fbs.py), so a consumer generated from the reference
    IDL can read the topics."""
    if wire not in ("json", "flatbuffer"):
        raise ValueError(f"unknown wire format: {wire!r}")

    def pack(df: DataFrame, topic: str, key: Column) -> DataFrame:
        return df.select(
            F.lit(TOPICS[topic]).alias("topic"),
            key.cast("string").alias("key"),
            F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
        )

    if wire == "flatbuffer":
        acc = _pack_fb(
            account_update_stream(updates, owners), "account", F.hex("key"), "account"
        )
        off = _pack_fb(
            offchain_fanout_stream(updates, with_context=True),
            "offchain",
            F.hex("key"),
            "offchain",
        )
        slt = _pack_fb(rooted_slot_stream(slots), "slot", F.col("slot"), "slot")
        blk = _pack_fb(
            block_metadata_stream(blocks), "block", F.col("slot"), "block"
        )
        tx = _pack_fb(
            transaction_stream(txs, tx_programs or []),
            "transaction",
            F.hex("signature"),
            "transaction",
        )
    else:
        acc = pack(account_update_stream(updates, owners), "account", F.hex("key"))
        off = pack(offchain_fanout_stream(updates), "offchain", F.hex("key"))
        slt = pack(rooted_slot_stream(slots), "slot", F.col("slot"))
        blk = pack(block_metadata_stream(blocks), "block", F.col("slot"))
        tx = pack(
            transaction_stream(txs, tx_programs or []),
            "transaction",
            F.hex("signature"),
        )
    return acc.unionByName(off).unionByName(slt).unionByName(blk).unionByName(tx)
