"""Shared pieces of the benchmark: the Spark launcher, the resident-set
sampler and Spark job accounting."""

from __future__ import annotations

import os
import subprocess
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CPUS = 4


@dataclass
class Batch:
    """What one call into a workload returns: the latency of every
    operation it ran, the work items those operations completed, the
    wall time of the call, whether its outputs passed their checks, and
    the Spark jobs it ran."""

    latencies_s: list[float]
    items: int
    wall_s: float
    ok: bool
    jobs: int = 0
    errors: list[str] = field(default_factory=list)


def cpus() -> int:
    return min(MAX_CPUS, len(os.sched_getaffinity(0)))


def start_spark(work_dir: str):
    """Start the engine's session through ``session.get_spark`` with
    every scratch path inside ``work_dir``. Returns (spark, seconds)."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine and the benchmark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    from solana_snapshot_etl_tools_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    # every micro-batch's progress stays readable after the drain
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    # let a later session in this process launch a fresh JVM
    type(sc)._gateway = None
    type(sc)._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def noop_write(df) -> None:
    """Force a DataFrame without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def steal_s() -> float:
    """CPU seconds the hypervisor has given to other guests since boot,
    summed over all CPUs (0 where /proc/stat does not count steal)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


# --- resident set ------------------------------------------------------------


def _tree_rss_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and every descendant (the JVM and
    its Python workers), read from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo += children.get(pid, [])
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak resident set of this
    process tree."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# --- Spark job accounting ---------------------------------------------------


class JobCounter:
    """Tags the jobs started inside :meth:`group` with a job group and
    reads their stages and tasks back from the status tracker."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    @contextmanager
    def group(self, name: str):
        self.groups.append(name)
        self.sc.setJobGroup(name, name)
        try:
            yield name
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def stats(self, groups: list[str] | None = None) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs, stages, tasks, failed = 0, set(), 0, 0
        for g in self.groups if groups is None else groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in stages:
                        continue
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                        continue  # skipped: its shuffle output was reused
                    stages.add(sid)
                    tasks += st.numCompletedTasks
                    failed += st.numFailedTasks
        return dict(jobs=jobs, stages=len(stages), tasks=tasks, failed_tasks=failed)
