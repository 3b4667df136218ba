"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It prints one JSON detail line and,
last, the result line ``{"correct", "attempted", "failed", "metrics"}``:
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. Inputs come from the seed;
every file it writes goes under ``.perfbench/`` in the checkout, except
what two streaming keys of query_inventory stage under /tmp (see
README.md). It exits non-zero, without a result line, when the
checkout lacks the engine or the session does not run the engine's
configuration.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

# Pure-Python speed on this host falls into one of two modes per process
# (item_latency's p50 reads ~6.5 or ~10 us, whatever the seed or
# PYTHONHASHSEED), so such a workload's run is split across this many
# child processes, one after another, and their figures are averaged.
PROCESSES = {"item_latency": 6}
_CHILD_ENV = "PERFBENCH_CHILD"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare(root: str, workdir: str) -> None:
    """Environment for this process, the JVM and the Python workers; set
    before pyspark is imported."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    # keep the engine from installing its protobuf shim into site-packages
    os.environ["SMARTPIPELINE_SPARK_NO_PROVISION"] = "1"
    # the workers import perfbench.stages and the engine by name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, root)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "smartpipeline_spark", "__init__.py")):
        print("perfbench: run from a checkout root holding smartpipeline_spark/",
              file=sys.stderr)
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if PROCESSES.get(args.workload, 1) > 1 and not os.environ.get(_CHILD_ENV):
        return _fan_out(args, PROCESSES[args.workload], spec)
    out_root = os.path.join(root, ".perfbench")
    workdir = os.path.join(out_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    _prepare(root, workdir)

    from perfbench import workloads
    from perfbench.host import ConfDrift

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    try:
        run = workloads.execute(args.workload, args.seed, args.seconds, bool(args.trace), workdir)
    except ConfDrift as exc:
        print(f"perfbench: refusing to report: {exc}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    if args.trace:
        values = workloads.layer_metrics(run)
        names = spec["per_layer"]
    else:
        values = run.end_to_end()
        names = spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in names}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "iterations": len(run.iterations),
        "setup_rounds_s": run.setup_rounds,
        "session_s": run.session_s,
        "warmup_s": run.warmup_s,
        # end-to-end figures before scaling to the probe's reference speed
        "raw": run.end_to_end(scaled=False),
        "scale": {"setup": run.samples.scale(*run.setup_window),
                  "iterations": [[round(it["wall_s"], 4), round(it["scale"], 4)]
                                 for it in run.iterations]},
        "env": run.env,
        "extra": run.extra,
        "failures": run.failures[:20],
    }
    if args.trace:
        detail["self_s"] = run.tracer.self_times()
        trace_path = os.path.join(out_root, f"trace-{args.workload}-{args.seed}.json")
        run.tracer.write(trace_path, {"detail": detail, "metrics": values,
                                      "iterations": run.iterations})
        detail["trace_file"] = os.path.relpath(trace_path, root)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _fan_out(args, n: int, spec: dict) -> int:
    """Run the workload in ``n`` child processes, one after another, each
    for 1/n of the seconds; average their metrics (peak RSS: the
    largest) and add up their operation counts."""
    env = dict(os.environ, **{_CHILD_ENV: "1"})
    details, results = [], []
    for _ in range(n):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds / n),
               "--trace", str(args.trace)]
        p = subprocess.run(cmd, env=env, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            return p.returncode or 1
        details.append(json.loads(lines[-2]))
        results.append(json.loads(lines[-1]))
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        value = max(vals) if m["name"] == "peak_rss_mb" else statistics.fmean(vals)
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "processes": details}, default=str))
    print(json.dumps({
        "correct": all(r["correct"] for r in results),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
