"""The benchmark's one command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed (set-up, repeated), starts
Spark as ``local[min(4, nproc)]``, warms up, then repeats the
workload's operation for S seconds and at least ``min_ops`` times,
checking every output. The last line of stdout is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``; the
lines before it name the workload's own metrics with their units.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
same measurement, then one more pass split at layer boundaries with a
span around every call into the engine, and reports the per-layer
metrics; its spans and counters go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (  # noqa: E402
    ROOT,
    Batch,
    JobCounter,
    RssSampler,
    start_spark,
    steal_s,
    stop_spark,
)
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = {
    "snapshot_etl": ("perfbench.snapshot_etl", "SnapshotEtl"),
    "geyser_replay": ("perfbench.geyser_replay", "GeyserReplay"),
    "corpus_clean": ("perfbench.corpus_clean", "CorpusClean"),
}


def _catalog(key: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` lists them under ``key``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[key]}


END_TO_END = _catalog("end_to_end")
PER_LAYER = _catalog("per_layer")
# self_s.<layer> sums the self time of the spans named <layer>.*
LAYERS = tuple(k.split(".", 1)[1] for k in PER_LAYER if k.startswith("self_s."))


def _load(name: str):
    mod, cls = WORKLOADS[name]
    return getattr(importlib.import_module(mod), cls)


def _timed_op(w, i: int) -> Batch:
    t0 = time.perf_counter()
    try:
        return w.op(i)
    except Exception as e:  # an operation that raises counts as failed
        traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        return Batch([wall], 0, wall, False, errors=[repr(e)])


def _start(w, work: str):
    """Start Spark and hand it to the workload. Returns (spark, seconds)."""
    spark, start_s = start_spark(work)
    w.spark, w.jobs = spark, JobCounter(spark)
    return spark, start_s


def run(workload: str, seed: int, seconds: float, trace: bool, out=sys.stdout) -> dict:
    """Run one workload and return the result object (also printed)."""
    cls = _load(workload)
    run_id = f"{workload}-{seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(work, exist_ok=True)
    load_before, steal_before = os.getloadavg(), steal_s()
    cwd = os.getcwd()
    os.chdir(work)  # spark-warehouse and friends land in the work dir
    tr = Tracer(run_id)
    spark = None
    try:
        with RssSampler() as rss:
            try:
                w = cls(seed, os.path.join(work, "data"))
                os.makedirs(w.work, exist_ok=True)
                # set-up that needs no engine runs before the JVM starts:
                # its start-up threads slow and scatter pure-Python work
                if w.setup_uses_spark:
                    spark, start_s = _start(w, work)
                setup = []
                for rep in range(w.setup_reps):
                    t0 = time.perf_counter()
                    w.setup(rep)
                    setup.append(time.perf_counter() - t0)
                if spark is None:
                    spark, start_s = _start(w, work)
                phases = {"start": start_s, "setup": sum(setup)}
                t0 = time.perf_counter()
                w.warmup()
                phases["warmup"] = time.perf_counter() - t0
                batches: list[Batch] = []
                t_start = time.perf_counter()
                while len(batches) < w.min_ops or time.perf_counter() - t_start < seconds:
                    batches.append(_timed_op(w, len(batches)))
                phases["measure"] = time.perf_counter() - t_start
                totals = w.jobs.stats()
                if trace:  # the traced pass checks its outputs too
                    t0 = time.perf_counter()
                    try:
                        # the wall of the traced part that mirrors one
                        # operation, and that of an untraced twin run
                        # right before it (None: the measured operations)
                        with tr.span("traced_pass"):
                            traced_wall, twin_wall = w.traced(tr)
                        traced_ok = True
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                        traced_wall, twin_wall = time.perf_counter() - t0, None
                        traced_ok = False
            finally:
                if spark is not None:
                    stop_spark(spark)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
    load_after, steal = os.getloadavg(), steal_s() - steal_before

    lat = [x for b in batches for x in b.latencies_s]
    attempted = len(lat) + int(trace)
    failed = sum(len(b.latencies_s) for b in batches if not b.ok) + int(trace and not traced_ok)
    for b in batches:
        for e in b.errors:
            print(f"check failed: {e}", file=sys.stderr)
    print("op walls (s): " + " ".join(f"{b.wall_s:.3f}" for b in batches), file=sys.stderr)
    print("op latencies (s): " + " ".join(f"{x:.3f}" for x in lat), file=sys.stderr)
    print("phases (s): " + " ".join(f"{k} {v:.2f}" for k, v in phases.items()), file=sys.stderr)
    e2e = {
        "items_per_s": statistics.median([b.items / b.wall_s for b in batches]),
        "op_p50_ms": 1e3 * statistics.median(lat),
        "spark_jobs_per_op": sum(b.jobs for b in batches) / len(lat),
        "setup_s": statistics.median(setup),
    }
    # printed, not bounded: no run has the 100 operations a p90 needs
    # to have ten samples beyond it
    p90 = statistics.quantiles(lat, n=10, method="inclusive")[-1] if len(lat) > 1 else lat[0]
    shown = dict(e2e, op_p90_ms=1e3 * p90)
    for name, (key, unit) in w.named.items():
        print(f"{name} {shown[key]:.6g} {unit}", file=out)
    print(f"failed_ratio {failed / attempted:.6g} ratio ({failed} of {attempted} operations)",
          file=out)
    print(f"peak_rss_mb {rss.peak_mb:.6g} MB", file=out)
    print(f"loadavg_1m before {load_before[0]:.2f} after {load_after[0]:.2f}", file=out)
    print(f"cpu_steal_s {steal:.1f} s (taken by other guests, all CPUs, whole run)", file=out)

    if not trace:
        values, units = e2e, END_TO_END
    else:
        values = {k: 0.0 for k in PER_LAYER}
        values.update(tr.counters)
        for k, v in totals.items():
            values[f"spark.{k}"] = v
        values["session.start_s"] = start_s
        values["process.peak_rss_mb"] = rss.peak_mb
        for name, s in tr.self_times().items():
            layer = name.split(".")[0]
            if layer in LAYERS:
                values[f"self_s.{layer}"] += s
        untraced = twin_wall or statistics.median([b.wall_s for b in batches])
        values["trace.overhead_s"] = traced_wall - untraced
        values["failed_ratio"] = failed / attempted
        units = PER_LAYER
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tr.write(os.path.join(ROOT, ".perfbench_out", f"trace_{workload}_{seed}.json"),
                 untraced_op_s=untraced, traced_op_s=traced_wall,
                 loadavg=[load_before, load_after], cpu_steal_s=steal)
        unknown = set(values) - set(units)
        if unknown:
            raise RuntimeError(f"counters missing from the catalog: {sorted(unknown)}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), file=out)
    return result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    run(args.workload, args.seed, args.seconds, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
