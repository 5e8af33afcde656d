"""Interleaved same-session A/B: decontaminate_ngram hashed-key vs
string-key spelling (r16 verdict "What's wrong" #1).

Protocol: one SparkSession, the two spellings alternate A,B,A,B,...
so ambient load hits both arms equally; N runs per arm (default 5),
median reported, loadavg bracketed. Timed action = .count() (bench
methodology); session caches released between runs.

Usage: python tools/ab_decontam.py [n_runs] [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from solana_snapshot_etl_tools_spark.operators import decontam as DC
from solana_snapshot_etl_tools_spark.plans.llm_ops2 import (
    DECONTAM_BENCH_MOD,
    DECONTAM_K,
)
from solana_snapshot_etl_tools_spark.session import get_spark, release_session_caches


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark(app_name="ab_decontam")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECONTAM_BENCH_MOD != 0)

    def run(hash_key: bool) -> float:
        t0 = time.time()
        DC.decontaminate(
            train, bench, "doc_id", "text", k=DECONTAM_K, hash_key=hash_key
        ).count()
        dt = time.time() - t0
        release_session_caches()
        return dt

    # warm both arms once (JVM/JIT/python-worker warmup outside the A/B)
    run(True)
    run(False)

    load_start = os.getloadavg()
    hashed: list[float] = []
    string: list[float] = []
    for _ in range(n):
        hashed.append(run(True))
        string.append(run(False))
    load_end = os.getloadavg()
    print(
        json.dumps(
            {
                "n_per_arm": n,
                "sf_dir": sf_dir,
                "hashed_runs_sec": [round(x, 3) for x in hashed],
                "string_runs_sec": [round(x, 3) for x in string],
                "hashed_median_sec": round(statistics.median(hashed), 4),
                "string_median_sec": round(statistics.median(string), 4),
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in load_end],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
