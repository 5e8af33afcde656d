"""Targeted per-query timer — bench.py's methodology (df.count(),
median of N runs, release_session_caches between queries) over a
subset of queries, for fast optimize/measure loops.

Usage: python tools/time_queries.py name1,name2[,...] [runs] [sf_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod
from solana_snapshot_etl_tools_spark.session import get_spark, release_session_caches


def main() -> None:
    names = sys.argv[1].split(",")
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = (
        sys.argv[3]
        if len(sys.argv) > 3
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    spark = get_spark(app_name="time_queries")
    queries = entry_mod.queries()
    # same warmups as bench.py (uncounted)
    queries["q1_pricing_summary"](spark, sf_dir).collect()
    spark.range(spark.sparkContext.defaultParallelism * 4).repartition(
        spark.sparkContext.defaultParallelism
    ).mapInPandas(lambda it: it, "id long").count()
    for name in names:
        queries[name](spark, sf_dir).count()  # warm (fits, JIT)
        release_session_caches()
    load_start = os.getloadavg()
    out = {}
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(runs):
        for name in names:
            t0 = time.time()
            queries[name](spark, sf_dir).count()
            samples[name].append(time.time() - t0)
            release_session_caches()
    for name in names:
        s = sorted(samples[name])
        out[name] = {
            "median": round(statistics.median(s), 4),
            "min": round(s[0], 4),
            "max": round(s[-1], 4),
        }
    print(
        json.dumps(
            {
                "queries": out,
                "runs": runs,
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
