"""The benchmark's one client of Spark's status REST API.

It reads ``/jobs``, ``/stages`` and ``/sql`` once per phase and splits
the work by job tag: each traced span adds its own tag, a job belongs
to the innermost span tag it carries, and a stage belongs to the first
job that lists it (later jobs list it again as skipped). Executor
counters come from ``/stages``; the Python worker's counters come from
the SQL metrics of the Python nodes in ``/sql``.

The UI keeps a bounded number of jobs, stages and SQL executions.
:func:`retention_conf` raises those bounds for the benchmark's session,
and :meth:`StatusClient.phase` still checks that every job, stage and
execution of the phase was retained: a phase that lost any of them
raises :class:`Evicted` rather than report a partial sum.
"""

from __future__ import annotations

import json
import re
import urllib.request
from collections import defaultdict

TAG_PREFIX = "perfbench-span-"

RETAINED = 200_000


def retention_conf() -> dict[str, str]:
    return {
        "spark.ui.retainedJobs": str(RETAINED),
        "spark.ui.retainedStages": str(RETAINED),
        "spark.sql.ui.retainedExecutions": str(RETAINED),
    }


class Evicted(RuntimeError):
    """The UI dropped part of a phase before it was read."""


# /stages field -> (metric, scale to the metric's unit)
_STAGE_FIELDS = (
    ("executorRunTime", "spark.executor_run_s", 1e-3),
    ("executorCpuTime", "spark.executor_cpu_s", 1e-9),
    ("jvmGcTime", "spark.jvm_gc_s", 1e-3),
    ("executorDeserializeTime", "spark.deserialize_s", 1e-3),
    ("shuffleWriteBytes", "spark.shuffle_write_bytes", 1),
    ("shuffleReadBytes", "spark.shuffle_read_bytes", 1),
    ("memoryBytesSpilled", "spark.spill_bytes", 1),
    ("diskBytesSpilled", "spark.spill_bytes", 1),
    ("inputBytes", "spark.input_bytes", 1),
    ("outputBytes", "spark.output_bytes", 1),
)

# SQL metric name on a Python node -> metric
_PYTHON_FIELDS = {
    "time to run Python workers": "python.total_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_PYTHON_MARKER = "time to run Python workers"

COUNTER_NAMES = tuple(
    dict.fromkeys(
        ["spark.jobs_n", "spark.stages_n", "spark.tasks_n"]
        + [m for _f, m, _s in _STAGE_FIELDS]
        + list(_PYTHON_FIELDS.values())
        + ["python.rows_received"]
    )
)

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_sql_metric(text: str) -> float:
    """``'100,000'`` -> 100000; ``'total (min, med, max ...)\\n9.4 s (...)'``
    -> 9.4; byte sizes come back in bytes, times in seconds."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit in SQL metric value: {text!r}")
    return value * _UNITS[unit]


class StatusClient:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=30) as resp:
            return json.load(resp)

    def _drain_listeners(self) -> None:
        # the status store is fed asynchronously by the listener bus
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(next job id, next SQL execution id) at the start of a phase."""
        self._drain_listeners()
        jobs = self._get("/jobs")
        execs = self._get(f"/sql?details=false&length={RETAINED}")
        return (
            max((j["jobId"] for j in jobs), default=-1) + 1,
            max((e["id"] for e in execs), default=-1) + 1,
        )

    def phase(self, start: tuple[int, int]) -> dict[str, dict[str, float]]:
        """Counters per span tag for every job since ``start``."""
        self._drain_listeners()
        first_job, first_exec = start
        jobs = [j for j in self._get("/jobs") if j["jobId"] >= first_job]
        stages = self._get("/stages")
        execs = [
            e for e in self._get(f"/sql?details=true&planDescription=false&length={RETAINED}")
            if e["id"] >= first_exec
        ]
        _check_contiguous("job", first_job, [j["jobId"] for j in jobs])
        _check_contiguous("SQL execution", first_exec, [e["id"] for e in execs])

        job_tag: dict[int, str] = {}
        for j in jobs:
            ours = [t for t in j.get("jobTags", []) if t.startswith(TAG_PREFIX)]
            if ours:
                job_tag[j["jobId"]] = max(ours, key=lambda t: int(t[len(TAG_PREFIX):]))
        stage_job: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            for sid in j["stageIds"]:
                stage_job.setdefault(sid, j["jobId"])
        by_stage = defaultdict(list)
        for s in stages:
            by_stage[s["stageId"]].append(s)
        missing = [sid for sid in stage_job if sid not in by_stage]
        if missing:
            raise Evicted(f"{len(missing)} stages of the phase were evicted, e.g. {missing[:5]}")

        out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTER_NAMES, 0.0))
        for jid, tag in job_tag.items():
            out[tag]["spark.jobs_n"] += 1
        for sid, jid in stage_job.items():
            tag = job_tag.get(jid)
            if tag is None:
                continue
            for s in by_stage[sid]:
                if s["status"] == "SKIPPED":
                    continue
                acc = out[tag]
                acc["spark.stages_n"] += 1
                acc["spark.tasks_n"] += s["numCompleteTasks"] + s["numFailedTasks"] + s["numKilledTasks"]
                for field, metric, scale in _STAGE_FIELDS:
                    acc[metric] += s.get(field, 0) * scale
        for e in execs:
            ids = e.get("successJobIds", []) + e.get("failedJobIds", []) + e.get("runningJobIds", [])
            tags = {job_tag[i] for i in ids if i in job_tag}
            if len(tags) != 1:
                continue
            acc = out[tags.pop()]
            for node in e.get("nodes", []):
                metrics = {m["name"]: m["value"] for m in node.get("metrics", [])}
                if _PYTHON_MARKER not in metrics:
                    continue
                for name, metric in _PYTHON_FIELDS.items():
                    if name in metrics:
                        acc[metric] += parse_sql_metric(metrics[name])
                if "number of output rows" in metrics:
                    acc["python.rows_received"] += parse_sql_metric(metrics["number of output rows"])
        return dict(out)


def _check_contiguous(what: str, first: int, ids: list[int]) -> None:
    if not ids:
        return
    expected = set(range(first, max(ids) + 1))
    lost = expected - set(ids)
    if lost:
        raise Evicted(f"{len(lost)} {what}s of the phase were evicted, e.g. {sorted(lost)[:5]}")
