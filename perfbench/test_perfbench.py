"""Tests of the benchmark itself: generator determinism, the trace
writer's self time, and that a corrupted output raises failed_ratio.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def test_same_seed_gives_byte_identical_archive(tmp_path):
    paths = [tmp_path / f"{i}.tar.zst" for i in range(3)]
    truths = [gen.write_snapshot_archive(str(p), seed, 3000)
              for p, seed in zip(paths, (7, 7, 8))]
    blobs = [p.read_bytes() for p in paths]
    assert blobs[0] == blobs[1]
    assert truths[0]["counts"] == truths[1]["counts"]
    assert blobs[0] != blobs[2]


def test_archive_round_trips_through_the_engine_extractor(tmp_path):
    from solana_snapshot_etl_tools_spark.sources.appendvec import iter_append_vec
    from solana_snapshot_etl_tools_spark.sources.snapshot import extract_archive, parse_manifest

    truth = gen.write_snapshot_archive(str(tmp_path / "s.tar.zst"), 3, 2000)
    accounts, blob = extract_archive(str(tmp_path / "s.tar.zst"), str(tmp_path / "x"))
    manifest = parse_manifest(blob, bank_prefixed=True)
    n = 0
    for name in os.listdir(accounts):
        slot, vid = (int(x) for x in name.split("."))
        with open(os.path.join(accounts, name), "rb") as f:
            n += sum(1 for _ in iter_append_vec(f.read(), manifest[(slot, vid)]))
    assert n == truth["stored_records"]


def test_geyser_backlog_is_deterministic(tmp_path):
    a = gen.write_geyser_backlog(str(tmp_path / "a"), 5, 2, 100)
    b = gen.write_geyser_backlog(str(tmp_path / "b"), 5, 2, 100)
    assert a == b
    for sub in ("updates", "txs"):
        f = f"{sub}/part-0001.parquet"
        assert (tmp_path / "a" / f).read_bytes() == (tmp_path / "b" / f).read_bytes()


def _fake_clock(monkeypatch, ticks):
    it = iter(ticks)
    monkeypatch.setattr("perfbench.trace.time.perf_counter", lambda: next(it))


def test_self_time_subtracts_nested_children(monkeypatch):
    # root [0, 10] holds a [1, 3] (which holds b [1.5, 2.5]) and c [4, 6]
    _fake_clock(monkeypatch, [0, 1, 1.5, 2.5, 3, 4, 6, 10])
    tr = Tracer("t")
    with tr.span("root"):
        with tr.span("a"):
            with tr.span("b"):
                pass
        with tr.span("c"):
            pass
    assert tr.self_times() == {"root": 6, "a": 1, "b": 1, "c": 2}
    assert [s["parent"] for s in tr.spans] == [None, 0, 1, 0]


def test_self_time_merges_overlapping_children():
    tr = Tracer("t")
    tr.spans = [
        dict(id=0, name="p", start=0.0, end=10.0, parent=None, run_id="t"),
        dict(id=1, name="x", start=1.0, end=5.0, parent=0, run_id="t"),
        dict(id=2, name="y", start=4.0, end=7.0, parent=0, run_id="t"),
        dict(id=3, name="z", start=9.0, end=12.0, parent=0, run_id="t"),
    ]
    # children cover [1, 7] and [9, 10] of p: 7 of its 10 seconds
    assert tr.self_times()["p"] == 3.0


def test_trace_file(tmp_path):
    tr = Tracer("t")
    with tr.span("a"):
        tr.count("n", 1)
    tr.write(str(tmp_path / "t.json"), extra=1)
    doc = json.loads((tmp_path / "t.json").read_text())
    assert doc["counters"] == {"n": 1} and doc["spans"][0]["start"] == 0.0
    assert set(doc["self_s"]) == {"a"} and doc["extra"] == 1


def test_corrupted_output_raises_failed_ratio(monkeypatch):
    """The same small ETL run twice: as is, every check passes; with one
    account dropped before the tables are written, the row-count check
    fails and so does the run."""
    from perfbench import run as R
    from perfbench import snapshot_etl
    from pyspark.sql import functions as F

    monkeypatch.setattr(snapshot_etl, "N_RECORDS", 3000)
    monkeypatch.setattr(snapshot_etl, "WARMUP_RECORDS", 1000)
    monkeypatch.setattr(snapshot_etl.SnapshotEtl, "min_ops", 1)
    clean = R.run("snapshot_etl", 4, 0, trace=False, out=io.StringIO())
    assert clean["failed"] == 0 and clean["correct"]

    build = snapshot_etl.BT.build_all_tables

    def drop_one_token_account(raw, out_dir):
        victim = (raw.filter(F.col("data_len") == 165)
                  .select("pubkey").orderBy("pubkey").first()[0])
        return build(raw.filter(F.col("pubkey") != F.lit(victim)), out_dir)

    monkeypatch.setattr(snapshot_etl.BT, "build_all_tables", drop_one_token_account)
    bad = R.run("snapshot_etl", 4, 0, trace=False, out=io.StringIO())
    assert bad["failed"] == bad["attempted"] >= 1
    assert not bad["correct"]
