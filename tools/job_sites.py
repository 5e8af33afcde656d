"""Spark jobs and job time per engine call site, for one corpus CLI run.

    python tools/job_sites.py --corpus-clean SEED
    python tools/job_sites.py DOCS OUT_DIR [corpus_cli flags ...]

Starts Spark the way the benchmark does (``perfbench.common.start_spark``,
``local[min(4, nproc)]``) with the event log on, uncompressed, under a
temp dir. During the CLI run every call from Python into the JVM first
sets the thread's ``spark.job.description`` to the chain of engine
source lines on the Python stack, innermost first
(``dedup.py:40 < dedup.py:620 < corpus_cli.py:1311``), so each job
carries the line that started it; jobs the JVM starts on its own
threads inherit the description of the query that started them. After
the run the session stops, the event log is read back, and one line per
call site gives its jobs and summed job time (submission to
completion), largest first.

``--corpus-clean SEED`` runs the benchmark's ``corpus_clean`` operation:
the workload's own set-up writes its corpus for SEED, then one CLI run
with the workload's arguments is tagged. Set-up jobs are not counted.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import threading
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DESC = "spark.job.description"
GROUP = "job-sites"


def _engine_dir() -> str:
    import solana_snapshot_etl_tools_spark as pkg

    return os.path.dirname(os.path.abspath(pkg.__file__)) + os.sep


def call_site(engine: str, frame) -> str:
    """The engine source lines on the stack from ``frame`` outwards,
    innermost first."""
    sites = []
    while frame is not None:
        path = frame.f_code.co_filename
        if path.startswith(engine):
            sites.append(f"{os.path.basename(path)}:{frame.f_lineno}")
        frame = frame.f_back
    return " < ".join(sites) or "(outside the engine)"


@contextlib.contextmanager
def tag_jobs(sc):
    """Label every job started inside the block with its call site."""
    from py4j.java_gateway import JavaMember

    engine = _engine_dir()
    call = JavaMember.__call__
    state = threading.local()

    def tagged(self, *args):
        if not getattr(state, "busy", False):
            site = call_site(engine, sys._getframe(1))
            if site != getattr(state, "site", None):
                state.busy = True  # the property call below is a JVM call too
                try:
                    sc.setLocalProperty(DESC, site)
                finally:
                    state.busy = False
                state.site = site
        return call(self, *args)

    sc.setJobGroup(GROUP, GROUP)
    JavaMember.__call__ = tagged
    try:
        yield
    finally:
        JavaMember.__call__ = call
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty(DESC, None)


def read_jobs(log_dir: str) -> list[tuple[str, int]]:
    """(description, job ms) for every finished job of the tagged
    group in the one event log under ``log_dir``."""
    (name,) = os.listdir(log_dir)
    started: dict[int, tuple[int, dict]] = {}
    jobs = []
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            if not line.startswith('{"Event":"SparkListenerJob'):
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                started[ev["Job ID"]] = (ev["Submission Time"], ev.get("Properties") or {})
            elif ev["Event"] == "SparkListenerJobEnd":
                t0, props = started.pop(ev["Job ID"])
                if props.get("spark.jobGroup.id") == GROUP:
                    jobs.append((props.get(DESC) or "(untagged)", ev["Completion Time"] - t0))
    return jobs


def report(jobs: list[tuple[str, int]], wall_s: float) -> str:
    per_site: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for site, ms in jobs:
        per_site[site][0] += 1
        per_site[site][1] += ms
    lines = [f"{'jobs':>5} {'job_ms':>8}  call site (innermost first)"]
    for site, (n, ms) in sorted(per_site.items(), key=lambda kv: (-kv[1][1], kv[0])):
        lines.append(f"{n:>5} {ms:>8}  {site}")
    lines.append(f"total: {len(jobs)} jobs, {sum(ms for _, ms in jobs)} job-ms, "
                 f"{len(per_site)} call sites; CLI wall {wall_s * 1000:.0f} ms")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--corpus-clean", type=int, metavar="SEED",
                   help="tag the benchmark's corpus_clean operation for SEED")
    p.add_argument("cli", nargs=argparse.REMAINDER,
                   help="corpus_cli arguments (DOCS OUT_DIR [flags])")
    args = p.parse_args(argv)
    if (args.corpus_clean is None) == (not args.cli):
        p.error("give either --corpus-clean SEED or corpus_cli arguments")

    from perfbench.common import start_spark, stop_spark

    work = tempfile.mkdtemp(prefix="job_sites_")
    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_SUBMIT_OPTS"),
        "-Dspark.eventLog.enabled=true",
        f"-Dspark.eventLog.dir=file://{log_dir}",
        "-Dspark.eventLog.compress=false",
        "-Dspark.eventLog.rolling.enabled=false",  # one plain file
    )))
    try:
        spark, _ = start_spark(work)
        cli = args.cli
        if args.corpus_clean is not None:
            from perfbench.corpus_clean import CorpusClean

            w = CorpusClean(args.corpus_clean, work)
            w.spark = spark
            w.setup(0)
            cli = w._args(os.path.join(work, "out"))
        from solana_snapshot_etl_tools_spark import corpus_cli

        with tag_jobs(spark.sparkContext), contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            corpus_cli.main(cli)
            wall = time.perf_counter() - t0
        stop_spark(spark)
        print(report(read_jobs(log_dir), wall))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
