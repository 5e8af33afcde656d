"""CLI — the reference binary's UX on the Spark engine.

Mirrors `solana-snapshot-etl <source> --sqlite-out snapshot.db`
(reference solana-snapshot-etl/README.md, main.rs:59-122): one
positional snapshot source (archive file, .tar.zst, unpacked dir, or
http(s) URL) and output flags. The reference's SQLite target maps to
the byte-identical-DDL `build_sqlite`; `--parquet-out` is the
distributed-native analog; CSV and programs-tar match K1/K3.

    python -m solana_snapshot_etl_tools_spark SNAPSHOT \
        [--sqlite-out snapshot.db] [--parquet-out dir] \
        [--csv-out dir] [--programs-out programs.tar] \
        [--work-dir dir] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="solana_snapshot_etl_tools_spark",
        description="ETL a Solana snapshot with Spark",
    )
    p.add_argument(
        "source",
        nargs="?",
        help="snapshot .tar/.tar.zst file, unpacked dir, or http(s) URL",
    )
    p.add_argument(
        "--emit-plugin-header",
        action="store_true",
        help="print the C header native --geyser-so plugins compile "
        "against (spark_geyser_plugin.h) and exit",
    )
    p.add_argument("--sqlite-out", metavar="DB", help="write the 5-table snapshot.db (reference parity)")
    p.add_argument("--parquet-out", metavar="DIR", help="write the 5 tables as parquet dirs (distributed)")
    p.add_argument("--csv-out", metavar="DIR", help="write the base58 account CSV (K1)")
    p.add_argument("--programs-out", metavar="TAR", help="write program ELFs as <pubkey>.so tar (K3)")
    p.add_argument(
        "--geyser",
        metavar="MODULE:CALLABLE",
        help="push account records to a Python consumer(rows, epoch_id) "
        "— the K4 plugin analog; runs executor-side per partition, like "
        "the reference's dlopen'd Geyser plugin receives the replay",
    )
    p.add_argument(
        "--geyser-so",
        metavar="LIB.so[:CONFIG]",
        help="push account records into a NATIVE plugin shared object "
        "(C ABI, see streaming/plugin_abi.py PLUGIN_HEADER) — the "
        "dlopen analog of the reference's Geyser loader "
        "(geyser_plugin.rs:25-60); the full plugin lifecycle runs "
        "executor-side once per partition",
    )
    p.add_argument("--work-dir", metavar="DIR", help="scratch dir for archive extraction")
    p.add_argument("--cpus", type=int, default=None, help="local[] core count")
    args = p.parse_args(argv)

    if args.emit_plugin_header:
        from solana_snapshot_etl_tools_spark.streaming.plugin_abi import (
            PLUGIN_HEADER,
        )

        print(PLUGIN_HEADER, end="")
        return 0
    if not args.source:
        p.error("a snapshot source is required")

    outputs = (args.sqlite_out, args.parquet_out, args.csv_out,
               args.programs_out, args.geyser, args.geyser_so)
    if not any(outputs):
        p.error(
            "pick at least one output: --sqlite-out / --parquet-out / "
            "--csv-out / --programs-out / --geyser / --geyser-so"
        )

    from solana_snapshot_etl_tools_spark.operators import sinks as K
    from solana_snapshot_etl_tools_spark.operators.decoders import program_elfs_table
    from solana_snapshot_etl_tools_spark.plans import build_tables as BT
    from solana_snapshot_etl_tools_spark.session import (
        checkpoint_for_session,
        get_spark,
        release_frame,
    )
    from solana_snapshot_etl_tools_spark.sources.loader import load_snapshot

    from pyspark.sql import SparkSession

    pre_existing = SparkSession.getActiveSession() is not None
    spark = get_spark(app_name="snapshot-etl", cpus=args.cpus)
    work = args.work_dir or tempfile.mkdtemp(prefix="snapshot_etl_")
    raw = load_snapshot(spark, args.source, work)
    if sum(map(bool, outputs)) > 1:
        # every sink reads one decode of the archive, as the reference
        # walks each AppendVec once for all of its outputs; the first
        # sink's job fills the checkpoint
        raw = checkpoint_for_session(raw, eager=False)

    report: dict[str, object] = {"source": args.source}
    if args.sqlite_out:
        report["sqlite"] = {"path": args.sqlite_out, "rows": BT.build_sqlite(raw, args.sqlite_out)}
    if args.parquet_out:
        report["parquet"] = {"dir": args.parquet_out, "rows": BT.build_all_tables(raw, args.parquet_out)}
    if args.csv_out:
        K.write_csv(raw, args.csv_out)
        report["csv"] = {"dir": args.csv_out}
    if args.programs_out:
        n = K.write_programs_tar(program_elfs_table(raw), args.programs_out)
        report["programs"] = {"tar": args.programs_out, "count": n}
    if args.geyser:
        import importlib

        mod_name, _, fn_name = args.geyser.partition(":")
        if not fn_name:
            p.error("--geyser takes MODULE:CALLABLE")
        consumer = getattr(importlib.import_module(mod_name), fn_name)

        def push_partition(rows):
            rows = list(rows)
            if rows:
                consumer(rows, 0)

        raw.foreachPartition(push_partition)
        report["geyser"] = {"consumer": args.geyser}
    if args.geyser_so:
        from solana_snapshot_etl_tools_spark.streaming.plugin_abi import (
            native_plugin_consumer,
        )

        libpath, _, cfg = args.geyser_so.partition(":")
        native = native_plugin_consumer(libpath, cfg or None)

        def push_native(rows):
            rows = list(rows)
            if rows:
                native(rows, 0)

        raw.foreachPartition(push_native)
        report["geyser_so"] = {"lib": libpath, "config": cfg or None}
    release_frame(raw)  # a no-op unless checkpointed above
    print(json.dumps(report))
    if not pre_existing:  # don't tear down a session we joined
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
