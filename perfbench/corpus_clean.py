"""Workload ``corpus_clean``: ``corpus_cli.main`` with ``--normalize
--near-dedup --gopher --fineweb`` over a seeded corpus replicated by
``tools/scale_curve.build_nx``.

``build_nx`` gives each replica its own letter permutation, which keeps
the duplicate rate constant but turns the English stop words into other
strings. The run therefore passes the permuted Gopher stop words with
``--gopher-stopwords`` and turns the stop-word language filter off with
``--lang ""``; every other stage runs as configured.

One operation is one CLI run; its work items are the input documents.
Its output check compares the ``report.json`` counts with the counts the
generator's document kinds imply."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import time

from unittest import mock

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import Batch, noop_write
from solana_snapshot_etl_tools_spark import corpus_cli
from solana_snapshot_etl_tools_spark.operators import dedup as DD
from solana_snapshot_etl_tools_spark.operators import quality as QUAL
from solana_snapshot_etl_tools_spark.operators import sinks as SINKS
from tools import scale_curve

N_DOCS = 200
SCALE = 2
SETUP_REPS = 2


def expected_report(kinds: dict[str, int], scale: int) -> dict[str, int]:
    """Report counts the generated document kinds imply: exact and near
    duplicates go at the dedup tier; short documents fail the quality
    score, long-word ones Gopher, repeated-line ones FineWeb."""
    kept = kinds["clean"] + kinds["short"] + kinds["long_words"] + kinds["dup_lines"]
    return dict(n_input=scale * sum(kinds.values()), n_after_dedup=scale * kept,
                n_after_filters=scale * kinds["clean"])


def check_report(path: str, want: dict[str, int]) -> list[str]:
    with open(path) as f:
        report = json.load(f)
    errors = [f"{k}: {report.get(k)}, expected {v}" for k, v in want.items() if report.get(k) != v]
    split_rows = sum(s["rows"] for s in report.get("splits", {}).values())
    if split_rows != want["n_after_filters"]:
        errors.append(f"splits hold {split_rows} rows, expected {want['n_after_filters']}")
    return errors


class CorpusClean:
    setup_reps = SETUP_REPS
    setup_uses_spark = True
    min_ops = 1

    def __init__(self, seed: int, work: str) -> None:
        self.seed, self.work = seed, work
        self.spark = self.jobs = None  # set when the session starts
        self.docs = os.path.join(work, "nx", "documents.parquet")
        self.want: dict[str, int] = {}
        self.stopwords: list[str] = []

    def setup(self, rep: int) -> None:
        """Write the base corpus, replicate it with ``build_nx`` and
        read back the permuted stop words from a probe document."""
        base = os.path.join(self.work, "base")
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base)
        rows, kinds = gen.corpus_base(self.seed, N_DOCS)
        probe = len(rows)  # stop words only: too short, dropped by quality
        rows.append(dict(doc_id=probe, text=" ".join(gen.GOPHER_STOPWORDS), lang="en",
                         source="src0", n_chars=0))
        kinds["short"] += 1
        pq.write_table(pa.Table.from_pylist(rows), os.path.join(base, "documents.parquet"))
        pq.write_table(pa.Table.from_pylist(
            [dict(vec_id=i, embedding=[1.0, float(i)], label=0) for i in range(4)],
            schema=pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                              ("label", pa.int32())])), os.path.join(base, "embeddings.parquet"))
        sf1x, scale_curve.SF1X = scale_curve.SF1X, base  # build_nx replicates the corpus there
        try:
            scale_curve.build_nx(self.spark, os.path.dirname(self.docs), SCALE)
        finally:
            scale_curve.SF1X = sf1x
        nx = pq.read_table(self.docs, columns=["doc_id", "text"]).to_pylist()
        self.stopwords = sorted({w for r in nx if r["doc_id"] % scale_curve.ID_STRIDE == probe
                                 for w in r["text"].split()})
        self.want = expected_report(kinds, SCALE)

    def _args(self, out: str) -> list[str]:
        return [self.docs, out, "--normalize", "--near-dedup", "--gopher", "--fineweb",
                "--lang", "", "--gopher-stopwords", ",".join(self.stopwords)]

    def warmup(self) -> None:
        pass  # every CLI invocation pays its own cold start; so does the benchmark

    def op(self, i: int) -> Batch:
        out = os.path.join(self.work, f"out-{i}")
        with self.jobs.group(f"cli-{i}") as g, contextlib.redirect_stdout(sys.stderr):
            t0 = time.perf_counter()
            corpus_cli.main(self._args(out))
            wall = time.perf_counter() - t0
        errors = check_report(os.path.join(out, "report.json"), self.want)
        shutil.rmtree(out, ignore_errors=True)
        return Batch([wall], self.want["n_input"], wall, not errors,
                     self.jobs.stats([g])["jobs"], errors)

    named = {"corpus_docs_per_s": ("items_per_s", "1/s"),
             "corpus_spark_jobs": ("spark_jobs_per_op", "count")}

    # --- traced run --------------------------------------------------------

    def traced(self, tr) -> tuple[float, float]:
        """Two more CLI runs, both warm. The first is the untraced twin:
        only the CLI's own ``DataFrame.count`` calls get a span, so their
        time is what the counts re-execute. The second has a span around
        every call the CLI makes into the dedup, quality and shard-writer
        operators; each such call persists its output and forces it with
        a noop write, so its span holds that stage's work. The first
        stage also forces its input (read and normalize), and Gopher
        forces its input (near-dup semi-join, PII redaction and the
        quality-score filter). Returns the two runs' wall times."""
        frame = type(self.spark.range(1))
        count = frame.count
        depth = [0]  # calls made inside an instrumented one run untouched
        seen: dict[str, int] = {}

        def counted(df):
            with tr.span("reference.count"):
                return count(df)

        def force(df):
            df = df.persist()
            noop_write(df)
            return df

        def staged(name, fn, before=None):
            def call(df, *a, **k):
                if depth[0]:
                    return fn(df, *a, **k)
                depth[0] += 1
                try:
                    if before:
                        with tr.span(f"corpus.{before}"):
                            df = force(df)
                    with tr.span(f"corpus.{name}"):
                        out = force(fn(df, *a, **k))
                    seen[name] = count(out)  # cached, so cheap; outside the span
                    return out
                finally:
                    depth[0] -= 1
            return call

        def cli(span, patches, out):
            with contextlib.ExitStack() as stack:
                for obj, name, new in patches:
                    stack.enter_context(mock.patch.object(obj, name, new))
                with tr.span(span), contextlib.redirect_stdout(sys.stderr):
                    corpus_cli.main(self._args(out))
            self.spark.catalog.clearCache()
            with open(os.path.join(out, "report.json")) as f:
                report = json.load(f)
            errors = check_report(os.path.join(out, "report.json"), self.want)
            shutil.rmtree(out, ignore_errors=True)
            if errors:
                raise RuntimeError(f"{span} output differs: " + "; ".join(errors))
            return report

        cli("reference.cli", [(frame, "count", counted)], os.path.join(self.work, "twin-out"))
        tr.count("corpus.count_s", tr.duration("reference.count"))
        tr.count("corpus.count_calls", len(tr.durations("reference.count")))

        stages = [(mod, name, staged(name, getattr(mod, name), before)) for mod, name, before in (
            (DD, "exact_dedup", "normalize"),
            (DD, "minhash_lsh_pairs", None),
            (DD, "connected_components", None),
            (QUAL, "gopher_quality_flags", "pii_quality"),
            (QUAL, "fineweb_quality_flags", None),
            (SINKS, "write_training_shards", None),
        )]
        report = cli("corpus.cli", stages, os.path.join(self.work, "traced-out"))
        for stage, spans in (("normalize", ["normalize"]),
                             ("exact_dedup", ["exact_dedup"]),
                             ("near_dedup", ["minhash_lsh_pairs", "connected_components"]),
                             ("pii_quality", ["pii_quality"]),
                             ("gopher", ["gopher_quality_flags"]),
                             ("fineweb", ["fineweb_quality_flags"]),
                             ("split_write", ["write_training_shards"])):
            tr.count(f"corpus.stage_s.{stage}", sum(tr.duration(f"corpus.{s}") for s in spans))
        tr.count("dedup.minhash_candidates", seen["minhash_lsh_pairs"])
        tr.count("dedup.near_dup_keep_ratio", report["n_after_dedup"] / seen["exact_dedup"])
        return tr.duration("corpus.cli"), tr.duration("reference.cli")
