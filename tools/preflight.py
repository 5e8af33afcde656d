"""End-of-round preflight: everything the grading driver will do, in
one command, so no round ships a red row discoverable locally.

Runs, in order:
1. the rotation gate (tools/check_rotation.py logic) — declared vs
   prefix vs previous CORRECTNESS coverage;
2. the driver-contract smoke in a real HOSTILE env — a subprocess
   with cwd outside the repo (catches by-reference-pickled UDFs that
   only fail when workers lack the driver's sys.path), non-UTC TZ,
   and the grading driver's default ANSI session, running entry()
   plus one UDF-bearing prefix query;
3. the full 50-query-prefix correctness sim at sf0.01 (exactly what
   the driver records in CORRECTNESS_r{N}.json);
4. the bench CLI contract (one JSON line, env override honored) at
   sf0.001 so it finishes in seconds;
5. the plan-shape watchdog (tests/test_plan_audit.py) — every declared
   query's executed plan swept for cartesian joins, row-at-a-time
   Python, and wide-column shuffles;
6. the bench regression gate (tools/bench_compare.py): newest recorded
   BENCH_r*.json vs the median-of-3 floor in BASELINE_BENCH.json; with
   --full-bench, additionally runs a LIVE bench at
   $SPARK_GRAFT_SF_DIR (default sf0.1) and gates that instead;
7. the slow capstone set (``pytest tests/ -m slow -q``) — the e2e
   CLI and stream compositions the default gate deselects;
8. the benchmark's self-tests (``pytest perfbench -q``, about a
   minute) — they call ``plans.build_tables`` by name, so a rename or
   signature change there fails here, not first in a benchmark run.

Usage: python tools/preflight.py [--skip-bench] [--skip-plan-audit]
                                 [--full-bench]
Exit code 0 = ship; nonzero = something the driver would flag.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pytest(name: str, *args: str) -> bool:
    """Run ``pytest -q ARGS`` from the repo root; print its summary
    line and return whether it passed."""
    r = subprocess.run(
        [sys.executable, "-m", "pytest", *args,
         "-q", "--no-header", "-p", "no:cacheprovider"],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    tail = [ln for ln in r.stdout.splitlines() if ln.strip()][-1:]
    print(tail[0] if tail else f"{name} produced no output")
    return r.returncode == 0


def main() -> int:
    failures: list[str] = []

    print("== 1/8 rotation gate ==", flush=True)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "check_rotation.py")],
        capture_output=True,
        text=True,
    )
    print(r.stdout.strip() or r.stderr.strip())
    if r.returncode != 0:
        failures.append("rotation gate")

    print("== 2/8 entry smoke (HOSTILE env) ==", flush=True)
    # the real hostile recipe (verify skill): cwd OUTSIDE the repo so
    # Spark workers don't inherit the driver's sys.path (catches
    # by-reference-pickled UDFs), non-UTC host TZ, and the grading
    # driver's DEFAULT session (ANSI on, no engine confs) — not our
    # tuned factory
    hostile = (
        "import sys; sys.path.insert(0, %r)\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[8]')\n"
        "         .config('spark.ui.enabled','false').getOrCreate())\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "import __spark_entry__ as m\n"
        "print('entry rows:', m.entry(spark).count())\n"
        "df = m.queries()['dedup_minhash_lsh'](spark, '/root/testdata/sf0.001/')\n"
        "print('udf-query rows:', df.count())\n" % REPO
    )
    r = subprocess.run(
        [sys.executable, "-c", hostile],
        capture_output=True,
        text=True,
        cwd="/tmp",
        env=dict(os.environ, TZ="America/New_York"),
    )
    rows = [ln for ln in r.stdout.splitlines() if "rows:" in ln]
    print("\n".join(rows) or (r.stderr.strip()[-400:] or "no output"))
    if r.returncode != 0 or len(rows) != 2:
        failures.append("hostile entry smoke")

    print("== 3/8 prefix correctness sim (sf0.01) ==", flush=True)
    r = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "tools", "driver_sim.py"),
            "50",
            "/root/testdata/sf0.01",
        ],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    tail = [ln for ln in r.stdout.splitlines() if ln.startswith("BAD:")]
    print(tail[-1] if tail else "driver_sim produced no BAD: line")
    if r.returncode != 0 or not tail or tail[-1] != "BAD: []":
        failures.append("prefix correctness sim")

    if "--skip-bench" not in sys.argv:
        print("== 4/8 bench contract (sf0.001) ==", flush=True)
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
            SPARK_GRAFT_CPUS="8",
        )
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            env=env,
            cwd=REPO,
        )
        lines = [ln for ln in r.stdout.strip().splitlines() if ln.strip()]
        ok = False
        if len(lines) == 1:
            try:
                d = json.loads(lines[0])
                ok = sorted(d) == sorted(
                    ["metric", "value", "unit", "queries", "sf"]
                ) and d["sf"] == 0.001
            except json.JSONDecodeError:
                ok = False
        print(f"bench stdout lines: {len(lines)}, contract ok: {ok}")
        if not ok:
            failures.append("bench contract")

    if "--skip-plan-audit" not in sys.argv:
        print("== 5/8 plan-shape watchdog ==", flush=True)
        if not _pytest("plan audit", os.path.join(REPO, "tests", "test_plan_audit.py")):
            failures.append("plan-shape watchdog")

    print("== 6/8 bench regression gate (vs median floor) ==", flush=True)
    if "--full-bench" in sys.argv:
        env = dict(
            os.environ,
            SPARK_GRAFT_SF_DIR=os.environ.get(
                "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
            ),
        )
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            capture_output=True,
            text=True,
            env=env,
            cwd=REPO,
        )
        lines = [ln for ln in r.stdout.strip().splitlines() if ln.strip()]
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "bench_compare.py"),
             "-"],
            input=lines[-1] if lines else "{}",
            capture_output=True,
            text=True,
            cwd=REPO,
        )
    else:
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "bench_compare.py")],
            capture_output=True,
            text=True,
            cwd=REPO,
        )
    tail = [ln for ln in r.stdout.splitlines() if ln.strip()][-2:]
    print("\n".join(tail) or r.stderr.strip()[-200:])
    if r.returncode != 0:
        failures.append("bench regression gate")

    print("== 7/8 slow capstone tests ==", flush=True)
    if not _pytest("slow tests", os.path.join(REPO, "tests"), "-m", "slow"):
        failures.append("slow capstone tests")

    print("== 8/8 perfbench self-tests ==", flush=True)
    if not _pytest("perfbench self-tests", "perfbench"):
        failures.append("perfbench self-tests")

    print("PREFLIGHT:", "FAIL " + ", ".join(failures) if failures else "OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
