"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One client process runs the workload's
ops back to back on ``local[nproc]`` for up to ``--seconds`` seconds of
op time (and at least MIN_OPS ops), checks the last op's output off the
timer, and prints one JSON object as the last line of standard output.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports the
per-layer metrics of a traced run. See README.md beside this file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("corrupt_tables", "linkage_export")
MIN_OPS = 2  # the run budget leaves room for two ops of 4-8 s
WARMUP_OPS = 1  # the first op starts the Python workers and HotSpot compiles it
MAX_LOOP_S = 120.0
DRIVER_MEMORY = "1g"  # far below this machine's RAM; the program's default is 16g


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def import_program():
    """Import gecko_spark from this checkout, never from elsewhere."""
    sys.path.insert(0, str(ROOT))
    try:
        import gecko_spark
    except ImportError as e:
        raise SystemExit(f"perfbench: gecko_spark is not importable from {ROOT}: {e}")
    if ROOT not in Path(gecko_spark.__file__).resolve().parents:
        raise SystemExit(f"perfbench: gecko_spark was imported from outside {ROOT}")


def op_seed(seed: int, i: int) -> int:
    return (seed * 1_000_003 + i) % (2**31 - 1)


def configure_environment(work: Path) -> None:
    """Session sizing for this machine, and every temp file inside the
    checkout. Python workers inherit the environment."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["GECKO_SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


class Session:
    """One benchmark run: set-up, warm-up, the timed loop, checks."""

    def __init__(self, spark, args, tracer, work: Path):
        from perfbench import probes

        self.spark = spark
        self.args = args
        self.tracer = tracer
        self.work = work
        self.probes = probes
        self.ops: list[dict] = []

    def set_up(self):
        from perfbench import fixtures
        from perfbench.workloads import WORKLOADS

        self.tracer.op = "setup"
        t = time.perf_counter()
        with self.tracer.span("setup.build"):
            fx = fixtures.make_fixtures(self.args.seed)
            wl = WORKLOADS[self.args.workload](self.spark, fx, self.work, self.tracer, self.args.seed)
            wl.build()
        build = time.perf_counter() - t
        self.tracer.op = "warmup"
        t = time.perf_counter()
        for k in range(WARMUP_OPS):
            label = f"warm{k}"
            self.spark.sparkContext.setJobGroup(label, wl.name, False)
            wl.op(label, op_seed(self.args.seed, -1 - k))
            wl.discard(label)
        warmup = time.perf_counter() - t
        return wl, build, warmup

    def timed_loop(self, wl) -> None:
        """Closed loop: the next op starts when the previous one ended,
        while the median op so far still fits into ``--seconds``.
        In a traced run every second op is traced, so traced and
        untraced ops interleave under the same conditions."""
        from perfbench.tracing import median

        sc = self.spark.sparkContext
        sql = self.probes.SqlExecutions(self.spark) if self.args.trace else None
        if sql:
            self.probes.drain_listener_bus(self.spark)
            sql.new_plans()
        timed = 0.0
        start = time.monotonic()
        i = 0
        while (
            i < MIN_OPS or timed + median(r["wall"] for r in self.ops) <= self.args.seconds
        ) and time.monotonic() - start < MAX_LOOP_S:
            label = f"op{i}"
            rec = {"label": label, "seed": op_seed(self.args.seed, i), "error": None}
            rec["traced"] = self.tracer.enabled = bool(self.args.trace) and i % 2 == 1
            self.tracer.op = label
            sc.setJobGroup(label, wl.name, False)
            cpu = self.probes.tree_cpu_s(os.getpid())
            t = time.perf_counter()
            try:
                with self.tracer.span("op"):
                    rec.update(wl.op(label, rec["seed"]))
            except Exception:
                rec["error"] = traceback.format_exc()
                print(f"{label} failed:\n{rec['error']}", file=sys.stderr)
            rec["wall"] = time.perf_counter() - t
            rec["cpu"] = self.probes.tree_cpu_s(os.getpid()) - cpu
            timed += rec["wall"]
            self.ops.append(rec)
            if sql:
                self.probes.drain_listener_bus(self.spark)
                rec["plans"] = [self.probes.plan_counts(d) for d in sql.new_plans()]
            i += 1
        self.tracer.enabled = bool(self.args.trace)
        self.tracer.op = None

    def collect_job_stats(self) -> None:
        self.probes.drain_listener_bus(self.spark)
        for rec in self.ops:
            whole = self.probes.group_stats(self.spark, rec["label"])
            mutate = self.probes.group_stats(self.spark, rec["label"] + ".mutate")
            rec["spark"] = {k: whole[k] + mutate[k] for k in whole}
            rec["mutate_jobs"] = mutate["jobs"]
            if rec["spark"]["failed_tasks"] and not rec["error"]:
                rec["error"] = f"{rec['spark']['failed_tasks']} failed tasks"

    def check_outputs(self, wl) -> None:
        """Check the output of the last good op off the timer. The same
        seed must give the same checksums twice: a workload that writes
        files compares them with one recomputation, the others recompute
        twice. A check recomputes the op, so checking every op would
        double the run. Any op also fails on an exception or a failed
        task."""
        self.spark.sparkContext.setJobGroup("checks", "output checks", False)
        good = [r for r in self.ops if not r["error"]]
        if good:
            rec = good[-1]
            rec["checked"] = True
            try:
                errors, dg = wl.check(rec["label"], rec["seed"])
                if not wl.writes_files:
                    errors2, dg2 = wl.check(rec["label"], rec["seed"])
                    errors += errors2
                    if dg2 != dg:
                        errors.append(f"same seed, different checksums: {dg} vs {dg2}")
            except Exception:
                errors = [traceback.format_exc()]
            if errors:
                rec["error"] = "; ".join(errors)
                print(f"{rec['label']} check failed: {rec['error']}", file=sys.stderr)
        for rec in self.ops:
            wl.discard(rec["label"])


def op_figures(sess: Session, wl, key: str) -> tuple[float, float]:
    """Median per good op of ``key`` (``wall`` or ``cpu`` seconds), and
    rows produced per such second over all good ops."""
    from perfbench.tracing import median

    xs = [r[key] for r in sess.ops if not r["error"]]
    return median(xs), (len(xs) * wl.rows * wl.outputs / sum(xs) if sum(xs) > 0 else 0.0)


def end_to_end(sess: Session, wl, setup_s: float, peak_rss_mb: float) -> dict:
    """Op time in CPU seconds of the process tree: on a shared machine,
    wall time follows the CPU time other guests take (steal)."""
    op_cpu, rows_per_cpu = op_figures(sess, wl, "cpu")
    return {
        "setup_s": (setup_s, "s"),
        "rows_per_cpu_s": (rows_per_cpu, "1/s"),
        "op_cpu_s": (op_cpu, "s"),
        "ok_ops_frac": (sum(1 for r in sess.ops if not r["error"]) / len(sess.ops), "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


def per_layer(sess: Session, wl, build_s: float, warmup_s: float, decomposed: dict) -> dict:
    from perfbench.tracing import layer_self_times, median
    from perfbench.workloads import GENERATOR_LABELS, TABLE_MUTATOR_LABELS

    spans = sess.tracer.spans
    self_by_op = layer_self_times(spans)
    roots = {s.op: s.duration for s in spans if s.name == "op"}
    traced = [r for r in sess.ops if r["traced"] and not r["error"]]
    untraced = [r for r in sess.ops if not r["traced"] and not r["error"]]

    def op_median(fn) -> float:
        return median(fn(r) for r in traced)

    m = {
        "core.get_spark_s": (sess.tracer.total("core.get_spark"), "s"),
        "generators.factory_s": (sess.tracer.total("generators.factory", "setup"), "s"),
        "mutators.factory_s": (sess.tracer.total("mutators.factory", "setup"), "s"),
        "setup.build_s": (build_s, "s"),
        "setup.warmup_s": (warmup_s, "s"),
    }
    for layer in (
        "pipeline.to_data_frame",
        "pipeline.mutate_data_frame",
        "sources.read_parquet",
        "actions.noop_write",
        "sinks.write_partitioned",
        "op",
    ):
        metric = {"sinks.write_partitioned": "sinks.write", "op": "op.self"}.get(layer, layer)
        m[f"{metric}_s"] = (op_median(lambda r: self_by_op[r["label"]].get(layer, 0.0)), "s")
    m["pipeline.mutate_data_frame_jobs"] = (op_median(lambda r: r["mutate_jobs"]), "count")
    m["sinks.bytes_written"] = (op_median(lambda r: r["bytes"]), "B")
    m["sinks.files_written"] = (op_median(lambda r: r["files"]), "count")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = (op_median(lambda r: r["spark"][key]), "count")
    for key in ("exchanges", "arrow_python_nodes"):
        m[f"plan.{key}"] = (op_median(lambda r: sum(p[key] for p in r["plans"])), "count")

    names = ["generators.exec_s", "mutators.exec_s", "mutators.jvm_chain.exec_s"]
    names += [f"generators.{g}.exec_s" for g in GENERATOR_LABELS]
    names += [f"mutators.{t}.exec_s" for t in TABLE_MUTATOR_LABELS]
    for name in names:
        m[name] = (decomposed.get(name, 0.0), "s")

    traced_p50 = median(r["wall"] for r in traced)
    m["trace.op_p50_s"] = (traced_p50, "s")
    m["trace.overhead_s"] = (traced_p50 - median(r["wall"] for r in untraced), "s")
    m["trace.self_time_residual_s"] = (
        max((abs(sum(self_by_op[r["label"]].values()) - roots[r["label"]]) for r in traced), default=0.0),
        "s",
    )
    m["trace.spans"] = (len(spans), "count")
    return m


def run(args) -> dict:
    from perfbench import probes

    process_start = probes.process_start_time()
    import_program()
    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    configure_environment(work)
    from gecko_spark import get_spark

    from perfbench.tracing import Tracer

    cpu_before = probes.cpu_times()
    memory = probes.MemorySampler(os.getpid())
    memory.start()
    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("core.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                # a fixed, pre-touched heap keeps the JVM's resident memory
                # from following timing-dependent heap growth
                "spark.driver.extraJavaOptions": (
                    f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -Djava.io.tmpdir={work / 'tmp'}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
    try:
        env = probes.environment(spark)
        sess = Session(spark, args, tracer, work)
        wl, build_s, warmup_s = sess.set_up()
        setup_s = time.time() - process_start
        sess.timed_loop(wl)
        sess.collect_job_stats()
        sess.check_outputs(wl)
        if args.trace:
            tracer.op = "decompose"
            decomposed = wl.decompose()
            metrics = per_layer(sess, wl, build_s, warmup_s, decomposed)
        else:
            metrics = end_to_end(sess, wl, setup_s, memory.peak_mb)
        env["loadavg_end"] = list(os.getloadavg())
        env["peak_memory_processes_mb"] = memory.peak_processes
        env["cpu_steal_frac"] = probes.steal_fraction(cpu_before, probes.cpu_times())
        env["op_p50_s"], env["rows_per_s"] = op_figures(sess, wl, "wall")
        print(json.dumps({"env": env}))
        failed = sum(1 for r in sess.ops if r["error"])
        result = {
            "correct": failed == 0,
            "attempted": len(sess.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        out = ROOT / "perfbench" / ".out"
        out.mkdir(exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        tracer.write(out / f"{stem}.spans.jsonl")
        (out / f"{stem}.json").write_text(
            json.dumps({"env": env, "result": result, "ops": sess.ops}, indent=1, default=str)
        )
        return result
    finally:
        memory.stop()
        probes.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
