"""Benchmark harness for the Pipeline surface and the query inventory.

Run from the repository root: ``python3 perfbench/run.py --workload
<name> --seed <n> --seconds <s> --trace <0|1>``. See ``README.md``.
"""
