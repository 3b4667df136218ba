"""Host speed probe, and times scaled to a reference speed.

On a shared VM the speed of a CPU second drifts: the share of time the
host runs this VM's code slowly (its caches and memory shared with
busy neighbours) changes within seconds and from one minute to the
next, by up to 2x. Every workload's wall and CPU seconds follow it, so
across a set of runs raw times spread far past any useful bound, and no
run length averages it out.

So the benchmark samples the host while it measures. A sample is the
thread CPU time of one ``unit()``: refill a fixed 100,000-value buffer
and sort it in place. Of the kernels tried on this host (tight
pure-Python loops, random dict access, object churn, gathers, copies,
sorts), the sort followed item_latency's speed closest (correlation
0.91-0.95 over 0.7 s bins); tight interpreter loops moved less than
half as much as the workload. CPU time leaves out any wait for a
processor, so a sample reads the host's speed, not the load on it.
Samples come from a ``Sampler`` thread while the Spark workloads run
(their driver thread only waits), and inline between chunks of calls
on item_latency (``Run.loop``).

A timed stretch scales its seconds by ``REFERENCE_S`` over the mean of
the samples taken during it: what it would have taken on a host where
one unit takes ``REFERENCE_S``. Samples call no engine code and run
outside the timings they scale, so a change to the engine moves the
scaled times as it moves the raw ones. The raw figures stay in the
detail line.
"""

from __future__ import annotations

import statistics
import threading
import time

import numpy as np

# One unit's CPU seconds at the reference speed: this host's median on
# a quiet minute (4-vCPU Xeon VM), so scaled and raw seconds read alike.
REFERENCE_S = 0.0012
INTERVAL_S = 0.05  # Sampler: one unit per interval

_VALUES = np.random.default_rng(0).random(100_000)
_BUFFER = np.empty_like(_VALUES)


def unit() -> float:
    """Thread CPU seconds of one unit of the fixed work."""
    c0 = time.thread_time()
    _BUFFER[:] = _VALUES
    _BUFFER.sort()
    return time.thread_time() - c0


class Samples:
    """(perf_counter at the end, unit seconds) pairs, in time order."""

    def __init__(self) -> None:
        self.points: list[tuple[float, float]] = []

    def take(self) -> float:
        """Run one unit now; return its CPU seconds."""
        s = unit()
        self.points.append((time.perf_counter(), s))
        return s

    def between(self, t0: float, t1: float) -> list[float]:
        return [s for t, s in self.points if t0 <= t <= t1]

    def scale(self, t0: float, t1: float) -> float:
        """Factor from seconds measured in [t0, t1] to seconds at the
        reference speed; with no sample inside, the nearest one."""
        inside = self.between(t0, t1)
        if not inside:
            mid = (t0 + t1) / 2
            inside = [min(self.points, key=lambda p: abs(p[0] - mid))[1]]
        return REFERENCE_S / statistics.fmean(inside)


class Sampler:
    """Takes a sample every ``INTERVAL_S`` on a thread while open."""

    def __init__(self, samples: Samples) -> None:
        self.samples = samples
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="probe-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            self.samples.take()

    def __enter__(self) -> "Sampler":
        self.samples.take()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.samples.take()
