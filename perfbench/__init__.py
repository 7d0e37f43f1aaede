"""Benchmark of gecko_spark's generate, corrupt and export workloads.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see README.md beside this file.
"""
