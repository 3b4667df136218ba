"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/sweep.py --seeds 1-10 [--workloads a,b] [--trace 0] [--out FILE]

Runs go one at a time, seeds in the outer loop and workloads in the
inner one, so a burst of load on the host spreads over the workloads
instead of hitting one. For every workload and metric it prints the
median and the spread the benchmark's acceptance uses: the distance
between the first and third quartiles (``statistics.quantiles(n=4)``)
as a share of the median. ``--out`` keeps every run's result and
detail line as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in text.split(",")]


def summarize(runs: list[dict]) -> dict:
    out: dict = {}
    for r in runs:
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    summary = {}
    for wl, metrics in out.items():
        summary[wl] = {}
        for name, vals in metrics.items():
            med = statistics.median(vals)
            q = statistics.quantiles(vals, n=4) if len(vals) > 1 else [med, med, med]
            summary[wl][name] = {"median": med, "spread": (q[2] - q[0]) / med if med else None}
    return summary


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--workloads", help="comma-separated; default: BENCHMARK.json's")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    runs = []
    for seed in _seeds(args.seeds):
        for wl in workloads:
            cmd = spec["command"] + ["--workload", wl, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{wl} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            run = {"workload": wl, "seed": seed, "start": t0, "elapsed_s": time.time() - t0,
                   "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}
            runs.append(run)
            res = run["result"]
            print(f"{wl} seed {seed}: {run['elapsed_s']:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", flush=True)
    summary = summarize(runs)
    for wl, metrics in summary.items():
        for name, s in metrics.items():
            spread = "n/a" if s["spread"] is None else f"{s['spread']:.3f}"
            print(f"{wl:16s} {name:22s} median={s['median']:.5g} spread={spread}")
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump({"summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
