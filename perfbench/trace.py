"""In-memory span and counter recorder for the traced benchmark run.

A span is (id, name, start, end, parent, run_id); spans nest through a
stack, so a span opened inside another becomes its child. Counters are
plain named numbers recorded at the same boundaries. Nothing is written
until :meth:`Tracer.write`, which dumps one JSON file.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = dict(id=sid, name=name, start=time.perf_counter(), end=None,
                   parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        self.counters[name] = value

    def durations(self, name: str) -> list[float]:
        """Duration of every span called ``name``, in order."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def duration(self, name: str) -> float:
        return sum(self.durations(name))

    def self_times(self) -> dict[str, float]:
        """Self time per span name: each span's duration minus the part
        of its interval that its child spans cover (overlapping
        children are merged first, so no instant is subtracted twice)."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, lo), min(b, hi)
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (hi - lo) - covered
        return out

    def write(self, path: str, **extra) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        doc = dict(
            run_id=self.run_id,
            spans=[dict(s, start=s["start"] - t0, end=s["end"] - t0) for s in self.spans],
            counters=self.counters,
            self_s=self.self_times(),
            **extra,
        )
        with open(path, "w") as f:
            json.dump(doc, f, indent=1)
