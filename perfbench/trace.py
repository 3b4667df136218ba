"""Spans recorded around the benchmark's calls into each layer.

A span has a name, start and end (seconds since the tracer started),
its parent span and a count of the operations it covers. Spans stay in
memory until the run ends. When the tracer has a Spark context, each
span also adds its own job tag, so ``status.StatusClient`` can charge
the jobs that ran inside it to it. A disabled tracer records nothing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict

from perfbench.status import TAG_PREFIX


class Tracer:
    def __init__(self, enabled: bool, sc=None) -> None:
        self.enabled = enabled
        self._sc = sc
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self.spans: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, count: int = 1):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "count": count,
            "start": time.perf_counter() - self._t0,
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        tag = f"{TAG_PREFIX}{sid}"
        if self._sc is not None:
            self._sc.addJobTag(tag)
        try:
            yield rec
        finally:
            if self._sc is not None:
                self._sc.removeJobTag(tag)
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time its direct
        children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def totals(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times(), **extra}, f, indent=1)
