"""Tiny-N smoke runs: each workload, at a few thousand rows, must pass
every output check and report every metric that BENCHMARK.json names.
Each run starts its own Spark session (about half a minute).

    python3 -m pytest perfbench/tests/test_smoke.py
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
TINY_ROWS = 3000

# Runs perfbench/run.py with a smaller row count and fewer ops.
LAUNCH = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
run.MIN_OPS, run.WARMUP_OPS = 2, 0
workloads.WORKLOADS[{workload!r}].rows = {rows}
sys.exit(run.main(sys.argv[1:]))
"""


def tiny_run(workload: str, trace: int) -> dict:
    code = LAUNCH.format(root=str(ROOT), workload=workload, rows=TINY_ROWS)
    args = ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(
        [sys.executable, "-c", code, *args], cwd=ROOT, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def metric_names(kind: str) -> set[str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"] for m in spec[kind]}


@pytest.mark.parametrize("workload", ["corrupt_tables", "linkage_export"])
def test_traced_run_passes_checks(workload):
    result = tiny_run(workload, trace=1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    metrics = result["metrics"]
    assert set(metrics) == metric_names("per_layer")
    # the self times of a traced op add up to its wall time
    assert metrics["trace.self_time_residual_s"]["value"] < 1e-6
    value = lambda name: metrics[name]["value"]  # noqa: E731
    assert value("generators.from_frequency_table.exec_s") > 0
    if workload == "corrupt_tables":
        assert value("pipeline.mutate_data_frame_jobs") > 0
        assert value("generators.from_frequency_table_large.exec_s") > 0
        assert value("mutators.with_phonetic_replacement_table.exec_s") > 0
        assert value("sinks.bytes_written") == 0
    else:
        assert value("pipeline.mutate_data_frame_jobs") == 0
        assert value("mutators.jvm_chain.exec_s") > 0
        assert value("sinks.files_written") > 0


def test_untraced_run_reports_end_to_end_metrics():
    result = tiny_run("corrupt_tables", trace=0)
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert set(metrics) == metric_names("end_to_end")
    assert all(m["value"] > 0 for m in metrics.values())
