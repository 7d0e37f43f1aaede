"""Where a perfbench op's CPU goes: the driver, the JVM (and its JIT and
GC), the Python workers and the JVM's other child processes.

    python3 tools/jvm_costs.py --workload corrupt_tables --seed 1 --ops 5
    JAVA_TOOL_OPTIONS=-XX:NativeMemoryTracking=summary python3 tools/jvm_costs.py --workload linkage_export

Run from the repository root. It builds the workload the way
``perfbench/run.py`` does (same session sizing, fixed pre-touched 1g
heap), runs one warm-up op and then ``--ops`` ops, and prints the JVM's
``-XX:`` flags and then one JSON object per op:

- ``tree_cpu_s``: CPU seconds of the whole process tree, split into
  ``driver_cpu_s`` (this Python process), ``jvm_cpu_s``,
  ``python_workers_cpu_s`` (the Python worker daemon and the workers it
  forked) and ``jvm_children_cpu_s`` (every other process the JVM
  started, such as the ``chmod`` that Hadoop's local file system forks
  for each file it writes, mostly read from the JVM's ``cutime`` once
  they are reaped);
- ``jit_threads_cpu_s`` and ``gc_threads_cpu_s``: the part of
  ``jvm_cpu_s`` spent on HotSpot's compiler and GC threads (per-thread
  ``/proc`` accounting; a compiler thread that exited mid-op is missed);
- ``jit_ms``: HotSpot compile time (``CompilationMXBean``);
- ``gc_ms``: collection time over all collectors;
- ``codegen_compiles``: classes Spark's whole-stage codegen compiled
  (``CodegenMetrics.METRIC_COMPILATION_TIME``);
- ``executor_cpu_s``: task CPU of the op's stages from the status store.

The warm-up op is printed too (``"op": "warmup"``): it carries most of
the JIT work. ``perfbench`` is imported unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import fixtures, probes, run  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

# thread name prefixes in /proc/<pid>/task/<tid>/comm (15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
_GC_THREADS = ("GC Thread", "G1 ")


def _cpu_s(fields: list[str], children: bool) -> float:
    """utime + stime (+ cutime + cstime) of a ``/proc/.../stat`` line."""
    ticks = sum(int(x) for x in fields[11 : 15 if children else 13])
    return ticks / os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            name, rest = f.read().split(" (", 1)[1].rsplit(")", 1)
    except OSError:
        return None
    return name, rest.split()


def cpu_split() -> tuple[dict[str, float], dict[tuple[str, str], float]]:
    """CPU seconds so far of this process tree by process kind, and of
    each JIT and GC thread of the JVM by ``(kind, tid)``. A Python
    process below the JVM is the worker daemon or a worker it forked;
    the daemon reaps its workers, so theirs is in its ``cutime``. Every
    other process the JVM started counts as ``jvm_children``, and once
    the JVM has reaped it, it is in the JVM's ``cutime``."""
    out = dict.fromkeys(("driver", "jvm", "python_workers", "jvm_children"), 0.0)
    threads = {}
    me = os.getpid()
    for pid in probes.tree_pids(me):
        st = _stat(f"/proc/{pid}/stat")
        if st is None:
            continue
        name, fields = st
        if pid == me:
            out["driver"] += _cpu_s(fields, children=False)
        elif name == "java":
            out["jvm"] += _cpu_s(fields, children=False)
            out["jvm_children"] += _cpu_s(fields, children=True) - _cpu_s(fields, children=False)
            for tid in os.listdir(f"/proc/{pid}/task"):
                t = _stat(f"/proc/{pid}/task/{tid}/stat")
                if t is None:
                    continue
                for kind, prefixes in (("jit_threads", _JIT_THREADS), ("gc_threads", _GC_THREADS)):
                    if t[0].startswith(prefixes):
                        threads[(kind, tid)] = _cpu_s(t[1], children=False)
        elif name.startswith("python"):
            out["python_workers"] += _cpu_s(fields, children=True)
        else:
            out["jvm_children"] += _cpu_s(fields, children=True)
    return out, threads


class JvmCounters:
    """Cumulative JIT, GC and codegen counters of the session's JVM."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._compilation = mf.getCompilationMXBean()
        self._collectors = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> dict[str, float]:
        return {
            "jit_ms": float(self._compilation.getTotalCompilationTime()),
            "gc_ms": float(sum(max(0, c.getCollectionTime()) for c in self._collectors)),
            "codegen_compiles": float(self._codegen.getCount()),
        }


def executor_cpu_s(spark, groups: list[str]) -> float:
    """Task CPU of every stage of the jobs in ``groups``."""
    probes.drain_listener_bus(spark)
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    ns = 0
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    ns += store.lastStageAttempt(sid).executorCpuTime()
                except Exception:  # a stage the store no longer holds
                    continue
    return ns / 1e9


def measure(spark, wl, label: str, seed: int, counters: JvmCounters) -> dict:
    spark.sparkContext.setJobGroup(label, wl.name, False)
    (cpu0, threads0), jvm0 = cpu_split(), counters.read()
    t = time.perf_counter()
    wl.op(label, seed)
    wall = time.perf_counter() - t
    (cpu1, threads1), jvm1 = cpu_split(), counters.read()
    wl.discard(label)
    row = {"op": label, "wall_s": round(wall, 3)}
    row["tree_cpu_s"] = round(sum(cpu1.values()) - sum(cpu0.values()), 2)
    for k in cpu0:
        row[f"{k}_cpu_s"] = round(cpu1[k] - cpu0[k], 2)
    for kind in ("jit_threads", "gc_threads"):
        spent = sum(v - threads0.get(key, 0.0) for key, v in threads1.items() if key[0] == kind)
        row[f"{kind}_cpu_s"] = round(spent, 2)
    for k in jvm0:
        row[k] = round(jvm1[k] - jvm0[k], 1)
    row["executor_cpu_s"] = round(executor_cpu_s(spark, [label, f"{label}.mutate"]), 2)
    return row


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=run.WORKLOAD_NAMES, required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--ops", type=int, default=5)
    args = p.parse_args(argv)

    run.import_program()
    work = Path(tempfile.mkdtemp(prefix="gecko-jvm-costs-"))
    (work / "tmp").mkdir()
    run.configure_environment(work)
    from gecko_spark import get_spark
    from perfbench.workloads import WORKLOADS

    spark = get_spark(
        app_name=f"jvm-costs-{args.workload}",
        extra_conf={
            "spark.driver.extraJavaOptions": (
                f"-Xms{run.DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        runtime = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        flags = [a for a in runtime.getInputArguments() if a.startswith("-XX:")]
        print(json.dumps({"workload": args.workload, "seed": args.seed, "jvm_flags": flags}))
        counters = JvmCounters(spark)
        fx = fixtures.make_fixtures(args.seed)
        wl = WORKLOADS[args.workload](spark, fx, work, Tracer(enabled=False), args.seed)
        wl.build()
        print(json.dumps(measure(spark, wl, "warmup", run.op_seed(args.seed, -1), counters)))
        for i in range(args.ops):
            row = measure(spark, wl, f"op{i}", run.op_seed(args.seed, i), counters)
            print(json.dumps(row), flush=True)
    finally:
        probes.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
