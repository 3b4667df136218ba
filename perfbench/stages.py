"""The benchmark's own stage bodies.

Spark's Python workers import this module by name (cloudpickle sends
classes by reference), so it must stay importable from the checkout
root. Faults are driven by the generated ``fault`` column; the codes
and the expected outcome of each live in ``gen.py``.

A stage with a :class:`UserClock` attached counts the seconds spent in
its own body. The traced replay attaches one; the Spark path never
does, so the untraced runs pay one attribute test per call.
"""

from __future__ import annotations

import time

from smartpipeline_spark.errors import SoftError
from smartpipeline_spark.stage import BatchStage, Stage

FAULT_SOFT = 1
FAULT_RETRY_RECOVERS = 2
FAULT_RETRY_EXHAUSTS = 3
FAULT_CRITICAL = 4
FAULT_FINAL_SOFT = 5

Z_MULT = 2654435761
Z_MOD = 1009


class TransientError(Exception):
    """The retryable failure injected by :class:`Enrich`."""


class UserClock:
    """Accumulates seconds spent inside stage bodies."""

    def __init__(self) -> None:
        self.total = 0.0


class _Clocked:
    clock: UserClock | None = None

    def _timed(self, fn, arg):
        if self.clock is None:
            return fn(arg)
        t0 = time.perf_counter()
        try:
            return fn(arg)
        finally:
            self.clock.total += time.perf_counter() - t0


class Enrich(_Clocked, Stage):
    """x = 3a + len(tag); counts its attempts in ``tries``. Soft and
    retryable faults fire here."""

    output_fields = {"x": "bigint", "tries": "int"}

    def process(self, item):
        return self._timed(self._process, item)

    @staticmethod
    def _process(item):
        d = item.data
        tries = (d.get("tries") or 0) + 1
        d["tries"] = tries
        fault = d["fault"]
        if fault == FAULT_SOFT:
            raise SoftError("injected soft fault")
        if fault == FAULT_RETRY_EXHAUSTS or (fault == FAULT_RETRY_RECOVERS and tries == 1):
            raise TransientError("injected transient fault")
        d["x"] = d["a"] * 3 + len(d["tag"])
        return item


class Score(_Clocked, Stage):
    """y = 2b + x (x counts as 0 when Enrich failed). The critical fault
    fires here, so the item skips every later stage."""

    output_fields = {"y": "double"}

    def process(self, item):
        return self._timed(self._process, item)

    @staticmethod
    def _process(item):
        d = item.data
        if d["fault"] == FAULT_CRITICAL:
            raise ValueError("injected critical fault")
        d["y"] = d["b"] * 2.0 + (d.get("x") or 0)
        return item


def _z(d) -> None:
    d["z"] = (d["id"] * Z_MULT) % Z_MOD


class Bucket(_Clocked, BatchStage):
    """z = id * Z_MULT mod Z_MOD per item. A chunk holding a final-soft
    fault raises before touching any item; with ``isolate_failures``
    the wrapper then retries the chunk row by row."""

    output_fields = {"z": "bigint"}

    def process_batch(self, items):
        return self._timed(self._process_batch, items)

    @staticmethod
    def _process_batch(items):
        if any(it.data["fault"] == FAULT_FINAL_SOFT for it in items):
            raise SoftError("injected soft fault in batch")
        for it in items:
            _z(it.data)
        return items


class Finish(_Clocked, Stage):
    """The per-item twin of :class:`Bucket` for the local process() path."""

    output_fields = {"z": "bigint"}

    def process(self, item):
        return self._timed(self._process, item)

    @staticmethod
    def _process(item):
        if item.data["fault"] == FAULT_FINAL_SOFT:
            raise SoftError("injected soft fault")
        _z(item.data)
        return item


class Tokenize(_Clocked, Stage):
    """Word count and first word of a wide text item."""

    output_fields = {"n_words": "int", "first": "string"}

    def process(self, item):
        return self._timed(self._process, item)

    @staticmethod
    def _process(item):
        words = item.data["text"].split()
        item.data["n_words"] = len(words)
        item.data["first"] = words[0]
        return item


class Tagger(_Clocked, Stage):
    """Invents payload keys at run time, so they travel in the ``_data``
    map column (``dynamic=True``)."""

    dynamic = True

    def process(self, item):
        return self._timed(self._process, item)

    @staticmethod
    def _process(item):
        d = item.data
        d[f"kw_{d['n_words'] % 5}"] = d["first"].upper()
        d["len_bucket"] = str(len(d["text"]) // 256)
        return item
