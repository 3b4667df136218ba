"""What the benchmark reads about its host and its own process tree.

CPU and memory are read from ``/proc`` for this process and every
descendant: the JVM, the PySpark daemon and its Python workers. A
descendant that exited and was reaped leaves its CPU time in its
parent's ``cutime``/``cstime``, so a sum over the live tree still
counts it.
"""

from __future__ import annotations

import os
import subprocess
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids() -> list[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live tree and its reaped children."""
    total = 0
    for pid in tree_pids():
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _rss(pid: int) -> tuple[str, int] | None:
    """(command name, resident bytes) of a live process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except OSError:
        return None
    return raw[raw.index("(") + 1 : raw.rindex(")")], pages * _PAGE


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread.

    A process counts only once two samples in a row saw it under the
    same command name. Between spawn and exec, a child of the JVM
    shares the JVM's memory and reports its RSS; that lasts far less
    than one interval, so the rule keeps it from counting twice."""

    def __init__(self, interval_s: float = 0.1, rescan_every: int = 10) -> None:
        self._interval = interval_s
        self._rescan = rescan_every
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._seen: dict[int, str] = {}
        self.peak_bytes = 0

    def _sample(self, pids: list[int]) -> None:
        total = 0
        seen = {}
        for pid in pids:
            got = _rss(pid)
            if got is None:
                continue
            seen[pid] = got[0]
            if self._seen.get(pid) == got[0]:
                total += got[1]
        self._seen = seen
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        pids: list[int] = []
        n = 0
        while not self._stop.is_set():
            if n % self._rescan == 0:
                pids = tree_pids()
            n += 1
            self._sample(pids)
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks over all CPUs from /proc/stat: the share the
    hypervisor gave to other guests tells a noisy run from a slow one."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def environment(spark=None) -> dict:
    """Host and engine facts recorded with every run."""
    import pyspark

    env = {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
    }
    if spark is not None:
        sc = spark.sparkContext
        env["master"] = sc.master
        env["java"] = sc._jvm.java.lang.System.getProperty("java.version")
    else:
        env["java"] = _java_version()
    return env


def _java_version() -> str | None:
    try:
        out = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else None


class ConfDrift(RuntimeError):
    """The live session does not run the engine's configuration."""


def check_engine_conf(spark) -> None:
    """Raise unless every ``session._ENGINE_CONF`` entry is live, both in
    the SQL conf and, for SparkContext-level keys, in the context conf."""
    from smartpipeline_spark.session import _ENGINE_CONF

    ctx = dict(spark.sparkContext.getConf().getAll())
    drift = {}
    for key, want in _ENGINE_CONF.items():
        # shuffle and other core keys bind when the context starts, so
        # only the context's value counts for them
        live = spark.conf.get(key, None) if key.startswith("spark.sql.") else ctx.get(key)
        if live != want:
            drift[key] = {"want": want, "live": live}
    if drift:
        raise ConfDrift(f"session differs from session._ENGINE_CONF: {drift}")
