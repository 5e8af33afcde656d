"""Seeded input generators for the four benchmark workloads.

Every input is built from the engine's own writers (``fixtures.pack_*``,
``appendvec.write_append_vec``, ``snapshot.write_accounts_db_fields``,
``bank.write_versioned_bank``, ``scale_curve.build_nx``) plus pyarrow's
zstd stream and parquet writer. The same seed gives the same bytes.
Each generator also returns the ground truth the output checks compare
against, so the engine only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import io
import itertools
import os
import random
import tarfile
from bisect import bisect_left
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from solana_snapshot_etl_tools_spark import fixtures as FX
from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.sources.appendvec import write_append_vec
from solana_snapshot_etl_tools_spark.sources.bank import write_versioned_bank
from solana_snapshot_etl_tools_spark.sources.snapshot import write_accounts_db_fields

# --- snapshot archives (snapshot_etl, table_queries) --------------------------

# Share of distinct accounts per kind; the remainder are system accounts.
# These shares, REWRITE_SHARE and the Geyser and corpus mixes further
# down are not derived from a measured mainnet snapshot or feed. They are
# chosen so that every decoder path, both dedup outcomes and every filter
# see hundreds of inputs per run; README.md names the metrics they set.
KIND_SHARES = (
    ("token_account", 0.14),
    ("token_mint", 0.03),
    ("token_multisig", 0.005),
    ("token_metadata", 0.03),
    ("programdata", 0.003),
    ("bad_token_size", 0.015),
    ("bad_token_state", 0.01),
    ("bad_metadata_key", 0.01),
)
REWRITE_SHARE = 0.10  # distinct accounts stored again in a later slot
N_SLOTS = 8
VECS_PER_SLOT = 4
SAMPLE_BYTE = 0  # accounts whose pubkey starts with this byte are sampled
ZIPF_S = 1.1

_OWNER = {
    "system": S.SYSTEM_PROGRAM_ID,
    "token_account": S.TOKEN_PROGRAM_ID,
    "token_mint": S.TOKEN_PROGRAM_ID,
    "token_multisig": S.TOKEN_PROGRAM_ID,
    "bad_token_size": S.TOKEN_PROGRAM_ID,
    "bad_token_state": S.TOKEN_PROGRAM_ID,
    "token_metadata": S.MPL_METADATA_PROGRAM_ID,
    "bad_metadata_key": S.MPL_METADATA_PROGRAM_ID,
    "programdata": S.BPF_LOADER_UPGRADEABLE_ID,
}


def _zipf_picker(rng: random.Random, items: list, s: float = ZIPF_S):
    acc, cum = 0.0, []
    for r in range(1, len(items) + 1):
        acc += 1.0 / r**s
        cum.append(acc)
    total = cum[-1]
    return lambda: items[min(bisect_left(cum, rng.random() * total), len(items) - 1)]


def _payload(kind: str, rng: random.Random, pick_mint, mints: list[bytes], i: int):
    """(data, decoded fields or None) for one account version."""
    pk = lambda: rng.randbytes(32)  # noqa: E731
    if kind == "system":
        return b"", None
    if kind in ("token_account", "bad_token_state"):
        f = dict(
            mint=pick_mint(),
            owner=pk(),
            amount=rng.randrange(1 << 40),
            delegate=pk() if rng.random() < 0.2 else None,
            state=rng.choice((1, 2)) if kind == "token_account" else 0,
            is_native=rng.randrange(1 << 30) if rng.random() < 0.05 else None,
            delegated_amount=rng.randrange(1 << 20),
            close_authority=pk() if rng.random() < 0.1 else None,
        )
        return FX.pack_token_account(f), f
    if kind == "token_mint":
        f = dict(
            mint_authority=pk() if rng.random() < 0.7 else None,
            supply=rng.randrange(1 << 50),
            decimals=rng.randrange(10),
            is_initialized=True,
            freeze_authority=pk() if rng.random() < 0.3 else None,
        )
        return FX.pack_mint(f), f
    if kind == "token_multisig":
        n = rng.randrange(2, S.MAX_MULTISIG_SIGNERS + 1)
        f = dict(m=rng.randrange(1, n + 1), n=n, signers=[pk() for _ in range(n)])
        return FX.pack_multisig(f), f
    if kind == "token_metadata":
        f = dict(
            update_authority=pk(),
            mint=mints[i % len(mints)],
            name=f"NFT {rng.randrange(10**6)}",
            symbol=f"S{rng.randrange(1000)}",
            uri=f"https://arweave.net/{rng.randrange(10**9):09d}",
            seller_fee_basis_points=rng.randrange(10000),
            creators=[(pk(), bool(rng.randrange(2)), 100)] if rng.random() < 0.5 else None,
            primary_sale_happened=bool(rng.randrange(2)),
            is_mutable=bool(rng.randrange(2)),
            edition_nonce=rng.randrange(256),
        )
        if rng.random() < 0.3:
            f.update(v12=True, token_standard=None, collection=(True, pk()), uses=None)
        return FX.pack_metadata(f), f
    if kind == "programdata":
        ops = [rng.choice(list(FX.EBPF_MNEMONICS)) for _ in range(rng.randrange(20, 200))]
        return FX.pack_programdata(FX.build_elf(ops + [0x95]), pk(), 1), None
    if kind == "bad_token_size":
        return rng.randbytes(rng.choice((1, 83, 100, 164, 356))), None
    if kind == "bad_metadata_key":
        return b"\x07" + rng.randbytes(140), None
    raise ValueError(kind)


def _expected_rows(kind: str, pubkey: bytes, acct: dict, f: dict | None):
    """{table: [row, ...]} the decoders must produce for the winning
    version of one account (column order of the table schemas)."""
    out = {
        "account": [(pubkey, len(acct["data"]), acct["owner"], acct["lamports"],
                     acct["executable"], acct["rent_epoch"])]
    }
    if kind == "token_account":
        out["token_account"] = [(pubkey, f["mint"], f["owner"], f["amount"], f["delegate"],
                                 f["state"], f["is_native"], f["delegated_amount"],
                                 f["close_authority"])]
    elif kind == "token_mint":
        out["token_mint"] = [(pubkey, f["mint_authority"], f["supply"], f["decimals"], True,
                              f["freeze_authority"])]
    elif kind == "token_multisig":
        out["token_multisig"] = [(pubkey, s, f["m"], f["n"]) for s in f["signers"]]
    elif kind == "token_metadata":
        col = f.get("collection")
        out["token_metadata"] = [(pubkey, f["mint"], f["name"], f["symbol"], f["uri"],
                                  f["seller_fee_basis_points"], f["primary_sale_happened"],
                                  f["is_mutable"], f["edition_nonce"],
                                  col[0] if col else None, col[1] if col else None)]
    return out


def snapshot_accounts(seed: int, n_records: int):
    """Seeded account versions grouped into AppendVec files, plus the
    ground truth: per-table row counts and the decoded rows of every
    account whose pubkey starts with ``SAMPLE_BYTE``.

    Returns ``(files, truth)`` where ``files`` maps (slot, id) to the
    account dicts of that AppendVec, in write order."""
    rng = random.Random(seed)
    n_distinct = round(n_records / (1 + REWRITE_SHARE))
    kinds: list[str] = []
    for kind, share in KIND_SHARES:
        kinds += [kind] * max(1, round(n_distinct * share))
    kinds += ["system"] * (n_distinct - len(kinds))
    rng.shuffle(kinds)
    pubkeys = [rng.randbytes(32) for _ in kinds]
    mints = [pk for pk, k in zip(pubkeys, kinds) if k == "token_mint"]
    pick_mint = _zipf_picker(rng, mints)
    base_slot = 100_000 + rng.randrange(1000)

    versions = []  # (slot, kind, pubkey, account dict, fields)
    n_meta = 0
    for kind, pubkey in zip(kinds, pubkeys):
        copies = 2 if rng.random() < REWRITE_SHARE else 1
        slots = sorted(rng.sample(range(N_SLOTS), copies))
        for slot in slots:
            data, f = _payload(kind, rng, pick_mint, mints, n_meta)
            acct = dict(
                pubkey=pubkey,
                owner=_OWNER[kind],
                lamports=rng.randrange(1, 1 << 40),
                executable=False,
                rent_epoch=rng.randrange(400),
                hash=rng.randbytes(32),
                data=data,
            )
            versions.append((base_slot + slot, kind, pubkey, acct, f))
        if kind == "token_metadata":
            n_meta += 1

    files: dict[tuple[int, int], list[dict]] = {}
    winner: dict[bytes, tuple] = {}
    write_version = 1
    for slot in range(base_slot, base_slot + N_SLOTS):
        in_slot = [v for v in versions if v[0] == slot]
        for vid in range(VECS_PER_SLOT):
            part = in_slot[vid::VECS_PER_SLOT]
            accts = []
            for _s, kind, pubkey, acct, f in part:
                acct["write_version"] = write_version
                write_version += 1
                accts.append(acct)
                winner[pubkey] = (kind, acct, f)
            files[(slot, slot * 10 + vid)] = accts

    counts = Counter()
    sample: dict[str, list] = {t: [] for t in ("account", "token_account", "token_mint",
                                               "token_multisig", "token_metadata")}
    lookup = []  # a metadata row for the point query
    for pubkey, (kind, acct, f) in winner.items():
        rows = _expected_rows(kind, pubkey, acct, f)
        for table, rs in rows.items():
            counts[table] += len(rs)
            if pubkey[0] == SAMPLE_BYTE:
                sample[table] += rs
        if kind == "token_metadata" and not lookup:
            lookup = rows["token_metadata"]
    truth = dict(
        stored_records=len(versions),
        counts={t: counts[t] for t in sample},
        sample=sample,
        metadata_lookup=lookup,
    )
    return files, truth


def _tar_add(tf: tarfile.TarFile, name: str, blob: bytes) -> None:
    info = tarfile.TarInfo(name)
    info.size = len(blob)
    info.mode = 0o644
    info.mtime = 0
    tf.addfile(info, io.BytesIO(blob))


def write_snapshot_archive(path: str, seed: int, n_records: int) -> dict:
    """Write ``path`` as a zstd ``.tar.zst`` snapshot in the reference
    layout: the bank-prefixed manifest ``snapshots/<slot>/<slot>``
    first, then ``accounts/<slot>.<id>`` AppendVecs. Each AppendVec is
    zero-padded past its manifest ``current_len``, as preallocated
    files are. Returns the ground truth of :func:`snapshot_accounts`."""
    files, truth = snapshot_accounts(seed, n_records)
    blobs = {k: write_append_vec(v) for k, v in files.items()}
    slot = max(s for s, _ in blobs)
    manifest = write_versioned_bank(slot=slot) + write_accounts_db_fields(
        {k: len(b) for k, b in blobs.items()}
    )
    with pa.CompressedOutputStream(path, "zstd") as z:
        with tarfile.open(fileobj=z, mode="w|", format=tarfile.GNU_FORMAT) as tf:
            _tar_add(tf, f"snapshots/{slot}/{slot}", manifest)
            for (s, vid), blob in blobs.items():
                pad = (-len(blob)) % 4096
                _tar_add(tf, f"accounts/{s}.{vid}", blob + b"\x00" * pad)
    truth["appendvec_bytes"] = sum(len(b) for b in blobs.values())
    return truth


# --- Geyser backlog (geyser_replay) ------------------------------------------

GEYSER_SELECTOR_OWNERS = [S.TOKEN_PROGRAM_ID, S.MPL_METADATA_PROGRAM_ID]
_OTHER_PROGRAM = hashlib.sha256(b"perfbench-other-program").digest()
GEYSER_TX_PROGRAMS = [S.TOKEN_PROGRAM_ID, _OTHER_PROGRAM]


def account_lamports(key: bytes) -> int:
    """Lamports a generated non-deletion update carries: a function of
    its key, so a consumer can check a decoded message on its own."""
    return int.from_bytes(key[:5], "little") + 1


def offchain_uri(key_hex: str) -> str:
    return f"https://meta.example/{key_hex[:16].lower()}"


def block_hash(slot: int) -> str:
    return f"bh{slot}"


def write_geyser_backlog(root: str, seed: int, n_batches: int, updates_per_file: int) -> dict:
    """Four parquet sources under ``root`` (updates/, slots/, blocks/,
    txs/), ``n_batches`` files each, so a one-file-per-trigger replay
    takes ``n_batches`` micro-batches. Returns the per-topic message
    counts the router must emit, and the input row counts."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from solana_snapshot_etl_tools_spark.streaming.geyser import TOPICS

    rng = random.Random(seed)
    schemas = {
        "updates": to_arrow_schema(S.ACCOUNT_UPDATES_SCHEMA),
        "slots": to_arrow_schema(S.SLOT_STATUS_SCHEMA),
        "blocks": to_arrow_schema(S.BLOCK_METADATA_SCHEMA),
        "txs": to_arrow_schema(S.TRANSACTIONS_SCHEMA),
    }
    for d in schemas:
        os.makedirs(os.path.join(root, d), exist_ok=True)
    want = Counter()
    inputs = Counter()
    slot = 200_000_000 + rng.randrange(10**6)
    wv = itertools.count(1)
    for b in range(n_batches):
        upd = []
        for _ in range(updates_per_file):
            key = rng.randbytes(32)
            r = rng.random()
            if r < 0.02:  # deletion event: always selected
                owner, data, lamports = S.SYSTEM_PROGRAM_ID, b"", 0
                want["account"] += 1
            else:
                lamports = account_lamports(key)
                if r < 0.10:
                    f = dict(
                        update_authority=rng.randbytes(32), mint=rng.randbytes(32),
                        name="N", symbol="S", uri=offchain_uri(key.hex()),
                        seller_fee_basis_points=0, creators=None,
                        primary_sale_happened=False, is_mutable=True,
                        edition_nonce="absent",
                    )
                    owner, data = S.MPL_METADATA_PROGRAM_ID, FX.pack_metadata(f)
                    want["account"] += 1
                    want["offchain"] += 1
                elif r < 0.33:
                    owner = S.TOKEN_PROGRAM_ID
                    data = rng.randbytes(S.SPL_ACCOUNT_LEN)
                    want["account"] += 1
                elif r < 0.85:
                    owner, data = S.SYSTEM_PROGRAM_ID, rng.randbytes(rng.randrange(0, 64))
                    if not data:
                        data = b"\x01"
                else:
                    owner, data = _OTHER_PROGRAM, rng.randbytes(rng.randrange(8, 200))
            upd.append(dict(key=key, lamports=lamports, owner=owner, executable=False,
                            rent_epoch=rng.randrange(400), data=data,
                            write_version=next(wv), slot=slot, is_startup=False))
        slots, blocks, txs = [], [], []
        for _ in range(8):
            status = rng.choice(("processed", "confirmed", "rooted"))
            slots.append(dict(slot=slot, parent=slot - 1, status=status))
            blocks.append(dict(slot=slot, blockhash=block_hash(slot),
                               rewards='[{"lamports":%d}]' % rng.randrange(100),
                               block_time=1_700_000_000 + slot % 10**6 if rng.random() < 0.8 else None,
                               block_height=slot - 1000 if rng.random() < 0.8 else None))
            want["slot"] += status == "rooted"
            want["block"] += 1
            slot += 1
        for _ in range(24):
            n_keys = rng.randrange(2, 6)
            keys = [rng.randbytes(32) for _ in range(n_keys)]
            if rng.random() < 0.4:
                keys[rng.randrange(n_keys)] = rng.choice(GEYSER_TX_PROGRAMS)
            ok = rng.random() < 0.8
            sig = rng.randbytes(64)
            fee = rng.randrange(5000, 10**6)
            pre = [rng.randrange(10**9) for _ in keys]
            txs.append(dict(
                signature=sig, is_vote=False, slot=slot, status_ok=ok,
                message_version="legacy", header=dict(
                    num_required_signatures=1, num_readonly_signed_accounts=0,
                    num_readonly_unsigned_accounts=1),
                account_keys=keys, recent_blockhash=rng.randbytes(32),
                instructions=[dict(program_id_index=n_keys - 1, accounts=[0, 1],
                                   data=rng.randbytes(8))],
                address_table_lookups=None, loaded_writable=None, loaded_readonly=None,
                message_hash=rng.randbytes(32), signatures=[sig], fee=fee,
                pre_balances=pre, post_balances=[pre[0] - fee] + pre[1:],
                inner_instructions=None, log_messages=[f"Program log: {b}"],
                pre_token_balances=None, post_token_balances=None, rewards=None,
            ))
            want["transaction"] += ok and any(k in GEYSER_TX_PROGRAMS for k in keys)
        for d, rows in (("updates", upd), ("slots", slots), ("blocks", blocks), ("txs", txs)):
            inputs[d] += len(rows)
            pq.write_table(pa.Table.from_pylist(rows, schema=schemas[d]),
                           os.path.join(root, d, f"part-{b:04d}.parquet"))
    return dict(topics={TOPICS[k]: want[k] for k in TOPICS}, inputs=dict(inputs))


# --- corpus (corpus_clean) ---------------------------------------------------

# Gopher's own stop list; documents carry them so the Gopher rule has
# something to find once build_nx has permuted their letters
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = set()
    while len(out) < n:
        out.add("".join(rng.choice(letters) for _ in range(rng.randrange(4, 9))))
    return sorted(out)


def _doc_text(rng: random.Random, vocab: list[str], n_words: int, long_words: bool = False) -> str:
    lines = []
    words = 0
    while words < n_words:
        k = rng.randrange(10, 16)
        ws = [rng.choice(vocab) for _ in range(k)]
        ws[rng.randrange(k)] = rng.choice(GOPHER_STOPWORDS)
        ws[rng.randrange(k)] = rng.choice(GOPHER_STOPWORDS)
        if long_words:
            ws = [w * 3 for w in ws]
        lines.append(" ".join(ws) + ".")
        words += k
    return "\n".join(lines)


def corpus_base(seed: int, n_docs: int) -> tuple[list[dict], dict]:
    """A seeded sf-style ``documents`` table (doc_id, text, lang,
    source, n_chars) with a known share of exact duplicates, planted
    near-duplicates (one word changed), and documents built to fail
    exactly one filter: too short (quality), long words (Gopher), a
    repeated line (FineWeb). Returns (rows, per-kind counts)."""
    rng = random.Random(seed)
    vocab = _vocab(rng, 3000)
    kinds = (["exact_dup"] * (n_docs // 20) + ["near_dup"] * (n_docs // 20)
             + ["short"] * (n_docs // 50) + ["long_words"] * (n_docs // 50)
             + ["dup_lines"] * (n_docs // 50))
    kinds += ["clean"] * (n_docs - len(kinds))
    rng.shuffle(kinds)
    texts: list[str] = []
    originals: list[str] = []  # clean texts so far, the duplicates' sources
    for i, kind in enumerate(kinds):
        if kind == "exact_dup" and originals:
            text = rng.choice(originals)
        elif kind == "near_dup" and originals:
            lines = rng.choice(originals).split("\n")
            j = rng.randrange(len(lines))
            ws = lines[j][:-1].split(" ")
            ws[rng.randrange(len(ws))] = rng.choice(vocab)
            lines[j] = " ".join(ws) + "."
            text = "\n".join(lines)
        elif kind == "short":
            text = _doc_text(rng, vocab, 12)
        elif kind == "long_words":
            text = _doc_text(rng, vocab, 120, long_words=True)
        elif kind == "dup_lines":
            base = _doc_text(rng, vocab, 120).split("\n")
            text = "\n".join(base + base[:4])
        else:
            kinds[i] = "clean"
            text = _doc_text(rng, vocab, rng.randrange(120, 220))
            originals.append(text)
        if rng.random() < 0.05:
            text += f"\nmail user{i}@example.com for the report."
        texts.append(text)
    rows = [
        dict(doc_id=i, text=t, lang="en", source=f"src{i % 8}", n_chars=len(t))
        for i, t in enumerate(texts)
    ]
    return rows, dict(Counter(kinds))
