"""Read-only probes of the machine, the process tree and the Spark
session: tree memory, CPU steal, versions, job/stage/task counts of a
job group and node counts of executed plans. Nothing here changes what
the program does."""

from __future__ import annotations

import os
import platform
import re
import signal
import subprocess
import threading
import time
from collections import defaultdict


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def tree_pss_mb(root: int) -> dict[str, float]:
    """Proportional resident memory (Pss) of ``root``'s process tree now,
    in MB per ``<pid>:<command>``: the Python driver, the JVM and the
    Python workers. Pss splits a shared page among its sharers, so the
    sum counts it once. Resident sizes would count the JVM twice while
    it forks a helper process, and a forked Python worker's pages again
    in its daemon."""
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                kb = next((int(line.split()[1]) for line in f if line.startswith("Pss:")), None)
        except OSError:
            continue
        if kb is not None:
            out[f"{pid}:{name}"] = kb / 1024.0
    return out


class MemorySampler(threading.Thread):
    """Samples ``tree_pss_mb`` every ``interval`` seconds until stopped;
    ``peak_mb`` is the largest summed sample and ``peak_processes`` its
    breakdown. Summing per-process peaks instead would add up processes
    that were never alive at the same time."""

    def __init__(self, root: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.root = root
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_processes: dict[str, float] = {}
        self._done = threading.Event()

    def run(self) -> None:
        while True:
            sample = tree_pss_mb(self.root)
            if sum(sample.values()) > self.peak_mb:
                self.peak_mb = sum(sample.values())
                self.peak_processes = sample
            if self._done.wait(self.interval):
                return

    def stop(self) -> None:
        self._done.set()
        self.join()


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user and system, with those of reaped children) that
    ``root``'s process tree has used so far. Time the hypervisor gave to
    other guests (steal) is not in it."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_fraction(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def environment(spark) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
    }


def drain_listener_bus(spark) -> None:
    """Wait until the status listeners have seen every finished job, so
    the status tracker and the SQL status store are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = failed = 0
    job_failed = False
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        jobs += 1
        job_failed |= info.status == "FAILED"
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped: its shuffle output was reused
            stages += 1
            tasks += st.numCompletedTasks
            failed += st.numFailedTasks
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "failed_tasks": failed + int(job_failed),
    }


_NODE = re.compile(r"^[\s+\-:|*]*([A-Za-z]\w*)")


def plan_counts(description: str) -> dict:
    """Exchange and Arrow-Python node counts in the tree of an executed
    physical plan description (the final plan when AQE re-planned)."""
    tree = description.split("== Physical Plan ==", 1)[-1].split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    exchanges = arrow = 0
    for line in tree.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node = m.group(1)
        if node.endswith("Exchange") and not node.startswith("Reused"):
            exchanges += 1
        elif node.startswith("ArrowEvalPython"):
            arrow += 1
    return {"exchanges": exchanges, "arrow_python_nodes": arrow}


class SqlExecutions:
    """Yields the executed plans of SQL executions that finished since
    the previous call."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._seen = -1

    def new_plans(self) -> list[str]:
        execs = self._store.executionsList()
        out = []
        for i in range(execs.size()):
            e = execs.apply(i)
            if e.executionId() > self._seen:
                out.append(e.physicalPlanDescription())
        if out:
            self._seen = max(
                execs.apply(i).executionId() for i in range(execs.size())
            )
        return out


def dir_usage(path) -> tuple[int, int]:
    """(data files, bytes) under ``path``, ignoring Spark's marker and
    checksum files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, its JVM and every process they started, and
    wait until each has ended."""
    from pyspark import SparkContext

    me = os.getpid()
    started = [p for p in tree_pids(me) if p != me]
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in started if _alive(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
