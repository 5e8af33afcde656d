"""Workload ``snapshot_etl``: what ``python -m solana_snapshot_etl_tools_spark
SNAPSHOT --parquet-out DIR`` does, on a seeded ``.tar.zst`` archive:
``sources.loader.load_snapshot`` then ``plans.build_tables.build_all_tables``.

One operation is one whole ETL pass (extract, manifest, scan, dedup,
decode, five table writes). Its work items are the stored records."""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from collections import Counter

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.common import Batch, dir_bytes, noop_write
from perfbench.queries import NAMES as QUERY_NAMES, QuerySet, exchanges
from solana_snapshot_etl_tools_spark import schemas as S
from solana_snapshot_etl_tools_spark.operators import decoders as D
from solana_snapshot_etl_tools_spark.plans import build_tables as BT
from solana_snapshot_etl_tools_spark.sources.appendvec import iter_append_vec
from solana_snapshot_etl_tools_spark.sources.loader import load_snapshot
from solana_snapshot_etl_tools_spark.sources.snapshot import (
    extract_archive,
    parse_manifest,
    scan_unpacked,
)

N_RECORDS = 40_000
SETUP_REPS = 3
MIN_PASSES = 3  # a run reports the median of at least this many passes
WARMUP_RECORDS = 2_000


def _norm(v):
    return bytes(v) if isinstance(v, (bytes, bytearray)) else v


def check_tables(spark, out_dir: str, truth: dict, counts: dict | None = None) -> list[str]:
    """Compare per-table row counts and the sampled decoded rows of the
    parquet tables under ``out_dir`` with the generator's truth.
    Returns the list of mismatches (empty when the output is right)."""
    errors = []
    for table, want in truth["counts"].items():
        df = spark.read.parquet(os.path.join(out_dir, table))
        got_n = counts[table] if counts is not None else df.count()
        if got_n != want:
            errors.append(f"{table}: {got_n} rows, expected {want}")
        rows = df.filter(F.substring("pubkey", 1, 1) == F.lit(bytes([gen.SAMPLE_BYTE]))).collect()
        got = Counter(tuple(_norm(v) for v in r) for r in rows)
        if got != Counter(truth["sample"][table]):
            errors.append(f"{table}: sampled rows differ ({sum(got.values())} got, "
                          f"{len(truth['sample'][table])} expected)")
    return errors


class SnapshotEtl:
    setup_reps = SETUP_REPS
    setup_uses_spark = False
    min_ops = MIN_PASSES

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.spark = self.jobs = None  # set when the session starts
        self.n_records = N_RECORDS
        self.archive = os.path.join(work, "snapshot.tar.zst")
        self.truth: dict = {}
        self._digest = None

    def setup(self, rep: int) -> None:
        """Generate the archive; every repetition must give the same bytes."""
        self.truth = gen.write_snapshot_archive(self.archive, self.seed, self.n_records)
        with open(self.archive, "rb") as f:
            digest = hashlib.sha256(f.read()).hexdigest()
        if self._digest not in (None, digest):
            raise RuntimeError("snapshot generator is not deterministic for this seed")
        self._digest = digest

    def _pass(self, i: int, check_rows: bool) -> Batch:
        w = os.path.join(self.work, f"etl-{i}")
        with self.jobs.group(f"etl-{i}") as g:
            t0 = time.perf_counter()
            raw = load_snapshot(self.spark, self.archive, w)
            counts = BT.build_all_tables(raw, os.path.join(w, "out"))
            wall = time.perf_counter() - t0
        errors = [f"{t}: {counts.get(t)} rows, expected {n}"
                  for t, n in self.truth["counts"].items() if counts.get(t) != n]
        if check_rows and not errors:
            errors = check_tables(self.spark, os.path.join(w, "out"), self.truth, counts)
        shutil.rmtree(w, ignore_errors=True)
        return Batch([wall], self.truth["stored_records"], wall, not errors,
                     self.jobs.stats([g])["jobs"], errors)

    def warmup(self) -> None:
        """One pass over a small archive of the same seed, so the measured
        passes find the JVM and the Python workers warm."""
        small = os.path.join(self.work, "warmup.tar.zst")
        gen.write_snapshot_archive(small, self.seed, WARMUP_RECORDS)
        w = os.path.join(self.work, "etl-warmup")
        BT.build_all_tables(load_snapshot(self.spark, small, w), os.path.join(w, "out"))
        shutil.rmtree(w, ignore_errors=True)

    def op(self, i: int) -> Batch:
        # the sampled-row check reads every table back; do it on every
        # third pass so the checks stay a small share of the run
        return self._pass(i, check_rows=i % 3 == 0)

    # the user-facing names of this workload's end-to-end metrics
    named = {"etl_accounts_per_s": ("items_per_s", "1/s")}

    # --- traced run --------------------------------------------------------

    def traced(self, tr) -> tuple[float, None]:
        """The same pass split at layer boundaries; each layer's output
        is persisted and forced with a noop write before the next one.
        Returns the wall time of the part that mirrors one untraced pass,
        to compare with the measured passes."""
        spark, w = self.spark, os.path.join(self.work, "traced")
        with tr.span("sources"):
            with tr.span("sources.extract_archive"):
                accounts_dir, blob = extract_archive(self.archive, w)
            with tr.span("sources.parse_manifest"):
                manifest = parse_manifest(blob)
            with tr.span("sources.scan_unpacked"):
                raw = scan_unpacked(spark, accounts_dir, manifest).persist()
                noop_write(raw)
        extracted = dir_bytes(accounts_dir)
        n_raw = raw.count()
        tr.count("sources.extract_s", tr.duration("sources.extract_archive"))
        tr.count("sources.extract_mb_per_s",
                 extracted / 2**20 / tr.duration("sources.extract_archive"))
        tr.count("sources.manifest_ms", 1e3 * tr.duration("sources.parse_manifest"))
        tr.count("sources.scan_s", tr.duration("sources.scan_unpacked"))
        tr.count("sources.scan_records", n_raw)
        tr.count("sources.scan_tasks", raw.rdd.getNumPartitions())
        path = max((os.path.join(accounts_dir, f) for f in os.listdir(accounts_dir)),
                   key=os.path.getsize)
        slot, vid = (int(x) for x in os.path.basename(path).split("."))
        with open(path, "rb") as f:
            buf = f.read()
        with tr.span("sources.iter_append_vec"):
            n = sum(1 for _ in iter_append_vec(buf, manifest[(slot, vid)]))
        tr.count("sources.appendvec_us_per_record", 1e6 * tr.duration("sources.iter_append_vec") / n)

        with tr.span("decoders"):
            with tr.span("decoders.dedup_last_write_wins"):
                latest = D.dedup_last_write_wins(raw).persist()
                noop_write(latest)
            tr.count("decoders.dedup_s", tr.duration("decoders.dedup_last_write_wins"))
            n_latest = latest.count()
            tr.count("decoders.dedup_keep_ratio", n_latest / n_raw)
            candidates = {
                "account": n_latest,
                "token": latest.filter(F.col("owner") == F.lit(S.TOKEN_PROGRAM_ID)).count(),
                "token_metadata": latest.filter(
                    (F.col("owner") == F.lit(S.MPL_METADATA_PROGRAM_ID)) & (F.length("data") > 0)
                ).count(),
            }
            for table in BT.TABLES:
                with tr.span(f"decoders.plan.{table}"):
                    df = getattr(D, f"{table}_table")(raw)
                with tr.span(f"decoders.exec.{table}"):
                    df = df.persist()
                    noop_write(df)
                tr.count(f"decoders.plan_ms.{table}", 1e3 * tr.duration(f"decoders.plan.{table}"))
                tr.count(f"decoders.exec_s.{table}", tr.duration(f"decoders.exec.{table}"))
                decoded = df.select("pubkey").distinct().count()
                tr.count(f"decoders.yield.{table}",
                         decoded / candidates.get(table, candidates["token"]))
                df.unpersist()
            latest.unpersist()
        raw.unpersist()

        # the writes run over the un-persisted scan, as build_all_tables
        # does, so the re-decode of each table shows in its job counts
        fresh = scan_unpacked(spark, accounts_dir, manifest)
        out = os.path.join(w, "out")
        with tr.span("build_tables"), self.jobs.group("traced-build") as g:
            for table, df in BT.build_tables(fresh).items():
                with tr.span(f"build_tables.write.{table}"):
                    df.write.mode("overwrite").parquet(os.path.join(out, table))
                tr.count(f"build_tables.write_s.{table}", tr.duration(f"build_tables.write.{table}"))
        for k, v in self.jobs.stats([g]).items():
            if k != "failed_tasks":
                tr.count(f"build_tables.{k}", v)
        tr.count("build_tables.out_bytes_per_in_byte", dir_bytes(out) / self.truth["appendvec_bytes"])
        # the traced counterpart of one untraced pass ends here; the
        # bucketed build and the queries below are extra
        etl_wall = sum(tr.duration(n) for n in ("sources", "decoders", "build_tables"))
        errors = check_tables(spark, out, self.truth)

        bkt = os.path.join(w, "bkt")
        with tr.span("build_tables.build_bucketed_token_tables"):
            BT.build_bucketed_token_tables(fresh, bkt)
        tr.count("build_tables.bucketed_write_s",
                 tr.duration("build_tables.build_bucketed_token_tables"))
        errors += self._trace_queries(tr, out, bkt)
        shutil.rmtree(w, ignore_errors=True)
        if errors:
            raise RuntimeError("traced pass output differs: " + "; ".join(errors))
        return etl_wall, None

    def _trace_queries(self, tr, out: str, bkt: str, reps: int = 3) -> list[str]:
        """Each client query over the fresh tables: median of ``reps``
        runs, the first one checked against DuckDB."""
        qs = QuerySet(self.spark, out, bkt)
        key = self.truth["metadata_lookup"][0][0]
        errors = []
        for name in QUERY_NAMES:
            for rep in range(reps):
                with tr.span(f"queries.{name}"):
                    got = qs.run(name, key)
                if rep == 0 and got != qs.duckdb(name, key):
                    errors.append(f"query {name} differs from DuckDB")
            tr.count(f"queries.{name}_ms", 1e3 * statistics.median(tr.durations(f"queries.{name}")))
        holdings = BT.nft_holdings(self.spark)
        noop_write(holdings)
        tr.count("queries.nft_holdings_exchanges", exchanges(holdings))
        return errors
