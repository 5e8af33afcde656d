"""Batch build plan tests: atomic writes, observed counters, registry,
plus the stateful streaming tracker."""

from __future__ import annotations

import os

import pytest

from solana_snapshot_etl_tools_spark.fixtures import build_fixture
from solana_snapshot_etl_tools_spark.plans import build_tables as BT


def test_build_all_tables_atomic(spark, raw_accounts, tmp_path):
    out = str(tmp_path / "tables")
    counts = BT.build_all_tables(raw_accounts, out)
    fx = build_fixture()
    assert counts["account"] == len(fx["expected"]["account"][2])
    assert counts["token_account"] == len(fx["expected"]["token_account"][2])
    assert counts["token_multisig"] == len(fx["expected"]["token_multisig"][2])
    for t in BT.TABLES:
        path = os.path.join(out, t)
        assert os.path.isdir(path)
        assert spark.read.parquet(path).count() == counts[t]
        # no leftover temp dirs (atomic promotion)
    assert not [d for d in os.listdir(out) if "._tmp." in d]


def _build_bucketed_counts(raw, out):
    spark = raw.sparkSession
    try:
        BT.build_bucketed_token_tables(raw, out, n_buckets=8)
        return {
            t: spark.table(f"{t}_bkt").count()
            for t in ("token_account", "token_metadata")
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS token_account_bkt")
        spark.sql("DROP TABLE IF EXISTS token_metadata_bkt")


@pytest.mark.parametrize(
    "build, dest",
    [
        (BT.build_all_tables, "tables"),
        (BT.build_sqlite, "snapshot.db"),
        (_build_bucketed_counts, "bkt"),
    ],
    ids=["build_all_tables", "build_sqlite", "build_bucketed_token_tables"],
)
def test_build_scans_raw_once(spark, raw_accounts, tmp_path, build, dest):
    """One build decodes the archive once, as the reference walks each
    AppendVec once: an identity mapInPandas over the raw frame counts
    the rows every job pulls through it; a build that re-scanned per
    table would count 5× the rows. The build's checkpoints are released
    when it returns."""
    sc = spark.sparkContext
    scanned = sc.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            scanned.add(len(pdf))
            yield pdf

    raw = raw_accounts.mapInPandas(count_rows, raw_accounts.schema)
    n_raw = raw_accounts.count()
    persisted = sc._jsc.getPersistentRDDs().size()
    counts = build(raw, str(tmp_path / dest))
    assert scanned.value == n_raw
    assert sc._jsc.getPersistentRDDs().size() == persisted
    expected = build_fixture()["expected"]
    assert counts == {t: len(expected[t][2]) for t in counts}
    assert set(counts) >= {"token_account", "token_metadata"}


def test_build_overwrite_is_atomic(spark, raw_accounts, tmp_path):
    out = str(tmp_path / "tables")
    BT.build_all_tables(raw_accounts, out)
    first = spark.read.parquet(os.path.join(out, "account")).count()
    BT.build_all_tables(raw_accounts, out)  # idempotent overwrite
    assert spark.read.parquet(os.path.join(out, "account")).count() == first


def test_decoder_registry_extension(spark, raw_accounts):
    from pyspark.sql import functions as F

    BT.register_decoder(
        "nonempty", lambda raw: raw.filter(F.col("data_len") > 0)
    )
    assert BT.decode(raw_accounts, "nonempty").count() > 0
    # 15 mint fixtures minus the 3 uninitialized ones (i % 7 == 0),
    # which spl_token unpack rejects
    assert BT.decode(raw_accounts, "token_mint").count() == 12


def test_sqlite_output_is_reference_shaped(spark, raw_accounts, tmp_path):
    """K2 parity as shipped: a real snapshot.db any SQLite client
    reads — reference DDL, all five tables, values equal to the
    fixture ground truth, temp file promoted only on success."""
    import os
    import sqlite3

    db_path = str(tmp_path / "snapshot.db")
    counts = BT.build_sqlite(raw_accounts, db_path)
    assert not [f for f in os.listdir(tmp_path) if f.endswith(".tmp")]
    con = sqlite3.connect(db_path)
    tables = {
        r[0]
        for r in con.execute(
            "SELECT name FROM sqlite_master WHERE type='table'"
        )
    }
    assert tables >= set(BT.TABLES)
    fx = build_fixture()
    # value-level: token_account matches the pre-pack ground truth
    got = sorted(
        (r[0].hex().upper(), r[1].hex().upper(), int(r[3]))
        for r in con.execute("SELECT pubkey, mint, owner, amount FROM token_account")
    )
    exp = sorted((e[0], e[1], e[3]) for e in fx["expected"]["token_account"][2])
    assert got == exp
    assert counts["token_account"] == len(exp)
    # account row count + a null-preserving column in token_mint
    (n_accounts,) = con.execute("SELECT count(*) FROM account").fetchone()
    assert n_accounts == counts["account"] == len(fx["expected"]["account"][2])
    mint_auth_nulls = con.execute(
        "SELECT count(*) FROM token_mint WHERE mint_authority IS NULL"
    ).fetchone()[0]
    exp_nulls = sum(1 for e in fx["expected"]["token_mint"][2] if e[1] is None)
    assert mint_auth_nulls == exp_nulls
    con.close()


def test_bucketed_mint_join_is_shuffle_free(spark, raw_accounts, tmp_path):
    """The canonical token_account ⋈ token_metadata join over
    bucketBy(mint) tables must contain NO Exchange on either side —
    that is the whole point of bucketing at 100 TB. Broadcast is
    disabled so the assertion exercises the bucketed sort-merge path,
    not a small-data broadcast shortcut."""
    BT.build_bucketed_token_tables(raw_accounts, str(tmp_path / "bkt"), n_buckets=8)
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # AQE re-plans around runtime stats; disable so the asserted
        # plan is the static one a big cluster would also start from
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        joined = BT.nft_holdings(spark)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # result parity: the bucketed join returns exactly what the
        # same join computes over the unbucketed decoder outputs
        from solana_snapshot_etl_tools_spark.operators import decoders as D

        ta = D.token_account_table(raw_accounts)
        tm = D.token_metadata_table(raw_accounts)
        direct = (
            ta.filter(ta.amount > 0)
            .join(tm, "mint")
            .select("mint", ta["pubkey"], "amount", "name")
        )
        assert sorted(map(tuple, joined.select("mint", "token_account", "amount", "name").collect())) == sorted(
            map(tuple, direct.collect())
        )

        # value-level teeth on overlapping keys (this fixture's account
        # and metadata mints are disjoint by construction): a synthetic
        # pair bucketed the same way must join shuffle-free AND right
        left = spark.range(1000).selectExpr(
            "concat('m', id % 100) AS mint", "id AS holding"
        )
        right = spark.range(100).selectExpr(
            "concat('m', id) AS mint", "concat('name', id) AS name"
        )
        BT.write_bucketed(left, "syn_left_bkt", str(tmp_path / "sl"), ["mint"], 8, ["mint"])
        BT.write_bucketed(right, "syn_right_bkt", str(tmp_path / "sr"), ["mint"], 8, ["mint"])
        sj = spark.table("syn_left_bkt").join(spark.table("syn_right_bkt"), "mint")
        splan = sj._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in splan, splan
        assert sj.count() == 1000
        one = sj.filter("holding = 42").collect()
        assert len(one) == 1 and one[0].name == "name42"
    finally:
        spark.sql("DROP TABLE IF EXISTS syn_left_bkt")
        spark.sql("DROP TABLE IF EXISTS syn_right_bkt")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS token_account_bkt")
        spark.sql("DROP TABLE IF EXISTS token_metadata_bkt")


def test_stateful_tracker_stream_vs_batch(spark, tmp_path):
    from solana_snapshot_etl_tools_spark import schemas as S
    from solana_snapshot_etl_tools_spark.fixtures import account_updates_df
    from solana_snapshot_etl_tools_spark.streaming.sinks import run_available_now
    from solana_snapshot_etl_tools_spark.streaming.stateful import (
        account_version_tracker,
    )

    d = str(tmp_path / "upd")
    account_updates_df(spark).write.parquet(d)
    streamed = run_available_now(
        spark, d, S.ACCOUNT_UPDATES_SCHEMA, account_version_tracker,
        output_mode="update",
    )
    batch = account_version_tracker(account_updates_df(spark))
    key = lambda df: sorted(
        (r.key_hex, r.n_updates, r.max_slot, r.max_write_version)
        for r in df.collect()
    )
    assert key(streamed) == key(batch)
    assert streamed.count() > 0


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Streaming X3: duplicated deliveries collapse to one row per
    (key, slot, write_version) under a real streaming query."""
    from solana_snapshot_etl_tools_spark import schemas as S
    from solana_snapshot_etl_tools_spark.fixtures import account_updates_df
    from solana_snapshot_etl_tools_spark.streaming.sinks import run_available_now
    from solana_snapshot_etl_tools_spark.streaming.stateful import (
        dedup_updates_stream,
    )

    d = str(tmp_path / "upd_dup")
    upd = account_updates_df(spark)
    upd.union(upd).write.parquet(d)  # every row delivered twice
    streamed = run_available_now(
        spark, d, S.ACCOUNT_UPDATES_SCHEMA, dedup_updates_stream
    )
    assert streamed.count() == upd.count()
    batch = dedup_updates_stream(upd.union(upd))
    assert batch.count() == upd.count()


def _write_update_file(spark, src_dir, name, rows, mtime):
    """One parquet FILE (not dir) in the stream source dir with a
    forced mtime — the file source orders micro-batches by mtime, so
    distinct mtimes make maxFilesPerTrigger=1 deterministic."""
    import glob
    import shutil

    from solana_snapshot_etl_tools_spark import schemas as S

    stage = os.path.join(src_dir, f"_stage_{name}")
    spark.createDataFrame(rows, S.ACCOUNT_UPDATES_SCHEMA).coalesce(
        1
    ).write.parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    dst = os.path.join(src_dir, name)
    shutil.move(part, dst)
    shutil.rmtree(stage)
    os.utime(dst, (mtime, mtime))
    return dst


def _upd(key, slot, wv, lamports=5, data=b"d"):
    return (key, lamports, b"o" * 32, False, 1, data, wv, slot, False)


def test_streaming_lww_full_row_matches_batch_x3(spark, tmp_path):
    """Full-row streaming X3: out-of-order + duplicated deliveries
    across three micro-batches; the last emission per key equals the
    batch dedup_last_write_wins winner, full row included."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark import schemas as S
    from solana_snapshot_etl_tools_spark.streaming.sinks import run_available_now
    from solana_snapshot_etl_tools_spark.streaming.stateful import (
        last_write_wins_stream,
    )

    d = str(tmp_path / "lww_src")
    os.makedirs(d)
    a, b = b"A" * 32, b"B" * 32
    f1 = [_upd(a, 5, 1, lamports=10, data=b"old"), _upd(b, 5, 2, lamports=7)]
    f2 = [_upd(a, 9, 1, lamports=99, data=b"new"), _upd(a, 9, 1, lamports=99, data=b"new")]
    f3 = [_upd(a, 7, 3, lamports=55, data=b"mid"), _upd(b, 4, 9, lamports=1)]
    t0 = 1_700_000_000
    for i, rows in enumerate((f1, f2, f3)):
        _write_update_file(spark, d, f"f{i}.parquet", rows, t0 + 10 * i)
    streamed = run_available_now(
        spark, d, S.ACCOUNT_UPDATES_SCHEMA, last_write_wins_stream,
        output_mode="update", source_options={"maxFilesPerTrigger": "1"},
    )
    # update-mode memory sink keeps every per-batch emission; the
    # winner is the (slot, write_version)-max row per key
    final = (
        streamed.groupBy("key_hex")
        .agg(
            F.max_by(
                F.struct(*[c for c in streamed.columns if c != "key_hex"]),
                F.struct("slot", "write_version"),
            ).alias("w")
        )
        .select("key_hex", "w.*")
    )
    batch_rows = {
        r.key_hex: r
        for r in last_write_wins_stream(
            spark.createDataFrame(f1 + f2 + f3, S.ACCOUNT_UPDATES_SCHEMA)
        ).collect()
    }
    got = {r.key_hex: r for r in final.collect()}
    assert set(got) == set(batch_rows) and len(got) == 2
    for k, r in got.items():
        want = batch_rows[k]
        assert (r.slot, r.write_version, r.lamports, bytes(r.data)) == (
            want.slot, want.write_version, want.lamports, bytes(want.data)
        )
    # A's winner is the out-of-order slot-9 row, full payload intact
    a_hex = a.hex().upper()
    assert got[a_hex].lamports == 99 and bytes(got[a_hex].data) == b"new"
    # incremental maintenance visible: A was emitted in more than one batch
    assert streamed.filter(F.col("key_hex") == a_hex).count() >= 2


def test_watermark_eviction_and_late_rows_pinned(spark, tmp_path):
    """Pins the watermark CONTRACT of dedup_updates_stream:
    (1) in-horizon duplicates collapse; (2) once the watermark passes
    a key's event time its state is EVICTED (stateOperators
    numRowsRemoved > 0 — bounded state, the reason this beats plain
    dropDuplicates); (3) a re-delivery arriving after eviction is
    dropped as LATE (below watermark), not re-emitted."""
    from solana_snapshot_etl_tools_spark import schemas as S
    from solana_snapshot_etl_tools_spark.streaming.sinks import run_available_now
    from solana_snapshot_etl_tools_spark.streaming.stateful import (
        dedup_updates_stream,
    )

    d = str(tmp_path / "wm_src")
    os.makedirs(d)
    a, b, c = b"A" * 32, b"B" * 32, b"C" * 32
    # event_ts = slot * 60s; watermark delay 10 min => slot+10 advances it
    f1 = [_upd(a, 100, 1), _upd(a, 100, 1)]     # dup within horizon
    f2 = [_upd(b, 10_000, 1)]                   # pushes watermark past A
    f3 = [_upd(a, 100, 1), _upd(c, 10_000, 2)]  # late re-delivery + fresh
    t0 = 1_700_000_000
    for i, rows in enumerate((f1, f2, f3)):
        _write_update_file(spark, d, f"f{i}.parquet", rows, t0 + 10 * i)
    progress: list = []
    streamed = run_available_now(
        spark, d, S.ACCOUNT_UPDATES_SCHEMA, dedup_updates_stream,
        source_options={"maxFilesPerTrigger": "1"},
        collect_progress=progress,
    )
    out = [(bytes(r.key), r.slot, r.write_version) for r in streamed.collect()]
    # one A (dup collapsed, late re-delivery dropped), one B, one C
    assert sorted(out) == [
        (a, 100, 1), (b, 10_000, 1), (c, 10_000, 2)
    ]
    removed = 0
    last_batch = None
    for p in progress:
        for so in p.stateOperators:
            removed += so.numRowsRemoved
            if p.numInputRows:
                last_batch = (p.numInputRows, so.numRowsUpdated, so.numRowsTotal)
    assert removed >= 1, "watermark never evicted state"
    # the final batch carried 2 input rows but only C reached the state
    # operator: the late A re-delivery was filtered by the watermark
    # BEFORE the dedup state (the operator's own dropped-late metric
    # stays 0 for exactly that reason — probed), and A was not re-added
    # to state after its eviction (numRowsTotal stays 2: B + C)
    assert last_batch == (2, 1, 2), last_batch


def test_session_stream_finalizes_on_watermark_and_matches_batch(spark, tmp_path):
    """Event-time session windows under a real streaming query:
    sessions split across micro-batches still merge (state extends
    them), finalize once the watermark passes their end, and the
    emitted set equals the batch session_window result."""
    import datetime as dt

    from pyspark.sql import types as T

    from solana_snapshot_etl_tools_spark.streaming.sinks import run_available_now
    from solana_snapshot_etl_tools_spark.streaming.stateful import session_stream

    schema = T.StructType([
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ])
    t = lambda m: dt.datetime(2026, 1, 1, 0, 0) + dt.timedelta(minutes=m)
    # user 1: (0, 5, 35) one session (gaps < 30 since 35-5=30? use 34);
    # then 120 a second session. user 2: one event. The session at
    # minute 0 SPANS batches: its 3rd event arrives in file 2.
    f1 = [(t(0), 1, 1.0), (t(5), 1, 2.0), (t(0), 2, 5.0)]
    f2 = [(t(34), 1, 4.0), (t(120), 1, 8.0)]
    f3 = [(t(60 * 24 * 10), 99, 0.0)]  # watermark pusher
    d = str(tmp_path / "sess_src")
    os.makedirs(d)
    t0 = 1_700_000_000
    for i, rows in enumerate((f1, f2, f3)):
        import glob as _g
        import shutil as _sh

        stage = os.path.join(d, f"_stage_{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(stage)
        part = _g.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(d, f"f{i}.parquet")
        _sh.move(part, dst)
        _sh.rmtree(stage)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))
    streamed = run_available_now(
        spark, d, schema, session_stream,
        source_options={"maxFilesPerTrigger": "1"},
    )
    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in streamed.collect()
    )
    batch = session_stream(
        spark.createDataFrame(f1 + f2 + f3, schema)
    )
    # append-mode contract: a session emits only once the watermark
    # passes its END — the pusher's own session never finalizes (no
    # later event exists), so the streamed set is exactly the batch
    # set minus that one still-open session
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in batch.collect()
        if r.user_id != 99
    )
    assert got == want
    by_user = {}
    for u, s, e, n, v in got:
        by_user.setdefault(u, []).append((s, e, n, v))
    # user 1: the cross-batch session merged (0,5,34 -> 3 events,
    # ends 34+30=64min) and the 120min event is its own session
    assert len(by_user[1]) == 2
    (s1, e1, n1, v1), (s2, e2, n2, v2) = sorted(by_user[1])
    assert (s1, n1, v1) == (t(0), 3, 7.0) and e1 == t(64)
    assert (s2, n2, v2) == (t(120), 1, 8.0) and e2 == t(150)
    assert by_user[2] == [(t(0), t(30), 1, 5.0)]


def test_session_stream_agrees_with_lag_based_sessionize(spark):
    """Triangulation: the built-in session_window (session_stream's
    batch path) and the declared lag-based sessionize query count the
    SAME sessions per user on the real events table — the two
    formulations differ only on exact-gap boundaries (measure-zero on
    microsecond event times; the fixture has none, asserted here)."""
    from pyspark.sql import functions as F

    from solana_snapshot_etl_tools_spark.plans.relational import (
        _t,
        q_sessionize,
    )
    from solana_snapshot_etl_tools_spark.streaming.stateful import (
        session_stream,
    )

    sf = "/root/testdata/sf0.001"
    e = _t(spark, sf, "events")
    # precondition: no exact-30-minute gap anywhere (else the two
    # formulations legitimately differ and this test is vacuous)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    assert e.select(gap.alias("g")).filter(
        F.col("g") == 30 * 60 * 1_000_000
    ).count() == 0
    lag_based = {
        r.user_id: (r.n_sessions, r.n_events)
        for r in q_sessionize(spark, sf).collect()
    }
    sw = (
        session_stream(e, gap="30 minutes", value_col=None)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
    )
    got = {r.user_id: (r.n_sessions, r.n_events) for r in sw.collect()}
    assert got == lag_based and len(got) > 0
