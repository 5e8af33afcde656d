"""Workload ``geyser_replay``: a seeded parquet backlog drained
closed-loop through the Geyser router.

``streaming.geyser.routed_messages(..., wire="flatbuffer")`` over four
file streams (account updates, slot status, blocks, transactions), one
file per source per micro-batch (``availableNow``), into
``streaming.sinks.foreach_batch_push``. The consumer runs on the
executors, counts messages and bytes per topic into an accumulator and
round-trips a sample of the messages through ``fbs.deserialize_*``.

One operation is one micro-batch; its latency is the batch's
``triggerExecution``. The work items are the messages emitted. There
is no Kafka here, so the replay is closed-loop; an open-loop rate
sweep is out of scope."""

from __future__ import annotations

import os
import shutil
import statistics
import time
import zlib
from collections import Counter

import pyarrow.parquet as pq
from pyspark.accumulators import AccumulatorParam

from perfbench import gen
from perfbench.common import Batch
from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.functions.base58 import b58encode
from solana_snapshot_etl_tools_spark.streaming import fbs
from solana_snapshot_etl_tools_spark.streaming.geyser import TOPICS, routed_messages
from solana_snapshot_etl_tools_spark.streaming.sinks import foreach_batch_push

N_BATCHES = 6
WARMUP_BATCHES = 1
UPDATES_PER_FILE = 1500
SETUP_REPS = 5
SAMPLE_EVERY = 8  # round-trip one message in this many
KIND = {topic: kind for kind, topic in TOPICS.items()}
SOURCES = {"account": "updates", "offchain": "updates", "slot": "slots",
           "block": "blocks", "transaction": "txs"}


class CounterParam(AccumulatorParam):
    def zero(self, value):
        return Counter()

    def addInPlace(self, a, b):
        a.update(b)
        return a


def message_ok(topic: str, key: str, value: bytes) -> bool:
    """Decode one routed message and compare it with what the
    generator put in (every field checked is a function of the key)."""
    kind = KIND[topic]
    if kind == "account":
        d = fbs.deserialize_account(value)
        want = 0 if d["lamports"] == 0 and not d["data"] else gen.account_lamports(d["key"])
        return d["key"].hex().upper() == key and d["lamports"] == want
    if kind == "offchain":
        d = fbs.deserialize_metadata_off_chain(value)
        return d["pubkey"] == b58encode(bytes.fromhex(key)) and d["uri"] == gen.offchain_uri(key)
    if kind == "slot":
        return fbs.deserialize_finalized_slot(value) == int(key)
    if kind == "block":
        d = fbs.deserialize_metadata(value)
        return d["slot"] == int(key) and d["blockhash"] == gen.block_hash(int(key))
    return fbs.deserialize_transaction(value)["signature"].hex().upper() == key


class TopicCounter:
    """Executor-side consumer: messages and bytes per topic, plus
    sampled round-trip failures, added to one accumulator."""

    def __init__(self, acc) -> None:
        self.acc = acc

    def __call__(self, rows, epoch_id: int) -> None:
        c = Counter()
        for r in rows:
            value = bytes(r["value"])
            c[r["topic"]] += 1
            c["bytes:" + r["topic"]] += len(value)
            if zlib.crc32(r["key"].encode()) % SAMPLE_EVERY == 0:
                c["sampled"] += 1
                if not message_ok(r["topic"], r["key"], value):
                    c["bad:" + r["topic"]] += 1
        self.acc.add(c)


class GeyserReplay:
    setup_reps = SETUP_REPS
    setup_uses_spark = False
    min_ops = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.spark = self.jobs = None  # set when the session starts
        self.inputs = os.path.join(work, "backlog")
        self.truth: dict = {}

    def setup(self, rep: int) -> None:
        shutil.rmtree(self.inputs, ignore_errors=True)
        self.truth = gen.write_geyser_backlog(self.inputs, self.seed, N_BATCHES, UPDATES_PER_FILE)

    def _routed(self, inputs: str | None = None):
        def stream(sub, schema):
            return (self.spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                    .parquet(os.path.join(inputs or self.inputs, sub)))

        return routed_messages(
            stream("updates", S.ACCOUNT_UPDATES_SCHEMA),
            stream("slots", S.SLOT_STATUS_SCHEMA),
            stream("blocks", S.BLOCK_METADATA_SCHEMA),
            stream("txs", S.TRANSACTIONS_SCHEMA),
            owners=gen.GEYSER_SELECTOR_OWNERS,
            tx_programs=gen.GEYSER_TX_PROGRAMS,
            wire="flatbuffer",
        )

    def _drain(self, i: int, routed=None, truth=None, n_batches=N_BATCHES):
        """Replay the whole backlog once; returns (batch, counts, progress)."""
        truth = truth or self.truth
        acc = self.spark.sparkContext.accumulator(Counter(), CounterParam())
        ckpt = os.path.join(self.work, f"ckpt-{i}")
        t0 = time.perf_counter()
        q = foreach_batch_push(routed if routed is not None else self._routed(),
                               TopicCounter(acc), checkpoint_dir=ckpt)
        q.awaitTermination(150)
        wall = time.perf_counter() - t0
        progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
        self.jobs.groups.append(str(q.runId))  # a query tags its jobs with its run id
        jobs = self.jobs.stats([str(q.runId)])["jobs"]
        shutil.rmtree(ckpt, ignore_errors=True)
        counts = acc.value
        errors = []
        if q.exception() is not None:
            errors.append(f"query failed: {q.exception()}")
        for topic, want in truth["topics"].items():
            if counts[topic] != want:
                errors.append(f"{topic}: {counts[topic]} messages, expected {want}")
            if counts["bad:" + topic]:
                errors.append(f"{topic}: {counts['bad:' + topic]} sampled messages do not round-trip")
        if not counts["sampled"]:
            errors.append("no message was sampled")
        if len(progress) != n_batches:
            errors.append(f"{len(progress)} micro-batches, expected {n_batches}")
        lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress] or [wall]
        emitted = sum(counts[t] for t in truth["topics"])
        return Batch(lat, emitted, wall, not errors, jobs, errors), counts, progress

    def warmup(self) -> None:
        """Drain a short backlog first, so the measured drain finds the
        Python workers started and the JVM warm."""
        warm = os.path.join(self.work, "warmup")
        truth = gen.write_geyser_backlog(warm, self.seed, WARMUP_BATCHES, UPDATES_PER_FILE)
        self._drain(-1, self._routed(warm), truth, WARMUP_BATCHES)

    def op(self, i: int) -> Batch:
        return self._drain(i)[0]

    named = {"stream_msgs_per_s": ("items_per_s", "1/s"),
             "stream_batch_p50_ms": ("op_p50_ms", "ms"),
             "stream_batch_p90_ms": ("op_p90_ms", "ms")}

    # --- traced run --------------------------------------------------------

    def traced(self, tr) -> tuple[float, None]:
        """One drain with the plan build and the drain in their own
        spans, then the serializers timed in-process. Returns the wall
        time of the part that mirrors one untraced drain, to compare with
        the measured drains."""
        with tr.span("geyser.routed_messages"):
            routed = self._routed()
        tr.count("geyser.plan_ms", 1e3 * tr.duration("geyser.routed_messages"))
        with tr.span("sinks.foreach_batch_push"):
            batch, counts, progress = self._drain(10**6, routed)
        if not batch.ok:
            raise RuntimeError("traced drain output differs: " + "; ".join(batch.errors))
        tr.count("sinks.batches", len(progress))
        for d in ("addBatch", "queryPlanning", "getBatch", "walCommit"):
            tr.count(f"sinks.{d}_p50_ms",
                     statistics.median([p["durationMs"].get(d, 0) for p in progress]))
        inputs = self.truth["inputs"]
        for kind, topic in TOPICS.items():
            tr.count(f"geyser.selector_pass_ratio.{kind}", counts[topic] / inputs[SOURCES[kind]])
            tr.count(f"fbs.bytes_per_msg.{kind}", counts["bytes:" + topic] / max(counts[topic], 1))
        self._trace_serializers(tr)
        wall = tr.duration("geyser.routed_messages") + tr.duration("sinks.foreach_batch_push")
        return wall, None

    def _trace_serializers(self, tr, n: int = 300) -> None:
        """Time each FlatBuffers serializer in-process on generated rows."""
        def rows(sub):
            return pq.read_table(os.path.join(self.inputs, sub, "part-0000.parquet")).to_pylist()

        upd = rows("updates")
        meta = [r for r in upd if r["owner"] == S.MPL_METADATA_PROGRAM_ID]
        cases = {
            "account": (fbs.serialize_account, upd[:n]),
            "offchain": (fbs.serialize_metadata_off_chain,
                         [dict(pubkey=b58encode(r["key"]), uri=gen.offchain_uri(r["key"].hex()),
                               slot=r["slot"], is_startup=False) for r in meta[:n]]),
            "slot": (fbs.serialize_finalized_slot, [r["slot"] for r in rows("slots")]),
            "block": (fbs.serialize_metadata, rows("blocks")),
            "transaction": (fbs.serialize_transaction, rows("txs")),
        }
        for kind, (fn, items) in cases.items():
            with tr.span(f"fbs.serialize.{kind}"):
                for it in items:
                    fn(it)
            tr.count(f"fbs.serialize_us.{kind}", 1e6 * tr.duration(f"fbs.serialize.{kind}") / len(items))
