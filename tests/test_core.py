"""Session and randomness plumbing of ``gecko_spark.core``: the Python
worker daemon (libraries loaded before the fork, no per-task re-read of
zip directories) and the driver JVM's JIT threads that ``get_spark``
configures, and generated code that does not depend on the seed."""

from __future__ import annotations

import os
import subprocess
import sys
import zipimport

import pytest
from pyspark.sql import functions as F

from gecko_spark.core import session_conf
from gecko_spark.operators import generators as G
from gecko_spark.operators import mutators as M
from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame
from gecko_spark.worker_daemon import reuse_zip_directories


def test_python_workers_fork_with_libraries_loaded(spark):
    """Workers fork from ``gecko_spark.worker_daemon``: numpy, pandas and
    pyarrow are imported before the fork and the daemon's objects are
    frozen out of the collector, so even a plain ``F.udf`` sees them."""
    assert spark.conf.get("spark.python.daemon.module") == "gecko_spark.worker_daemon"

    @F.udf("string")
    def probe(_):
        import gc
        import sys

        loaded = all(m in sys.modules for m in ("numpy", "pandas", "pyarrow"))
        return f"{gc.get_freeze_count()} {loaded}"

    rows = spark.range(0, 8, 1, 4).select(probe("id").alias("p")).collect()
    for row in rows:
        frozen, loaded = row.p.split()
        assert int(frozen) > 0
        assert loaded == "True"


def test_python_tasks_reuse_zip_directories(spark):
    """A task's ``importlib.invalidate_caches()`` (PySpark calls it at
    the start of every Python task) re-reads no zip directory: on Python
    3.10-3.12 the workers' ``zipimporter.invalidate_caches`` is
    ``worker_daemon``'s, which re-reads only a changed archive."""
    daemon_file = os.path.join(
        session_conf(4)["spark.executorEnv.PYTHONPATH"], "gecko_spark", "worker_daemon.py"
    )

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        method = getattr(zipimport.zipimporter, "invalidate_caches", None)
        source = method.__code__.co_filename if method is not None else ""
        calls = []
        read_directory = zipimport._read_directory

        def counted(archive):
            calls.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"source": [source], "reads": [len(calls)], "old": [sys.version_info < (3, 13)]}
        )

    schema = "source string, reads long, old boolean"
    rows = spark.range(0, 8, 1, 4).mapInPandas(probe, schema).collect()
    assert len(rows) == 4
    for row in rows:
        assert row.reads == 0
        if row.old:
            assert os.path.samefile(row.source, daemon_file)


_ZIP_REUSE_SCRIPT = r"""
import importlib, sys, zipfile, zipimport
from gecko_spark.worker_daemon import reuse_zip_directories

archive = sys.argv[1]

def write(files):
    with zipfile.ZipFile(archive, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)

def reads():
    calls = []
    read_directory = zipimport._read_directory
    def counted(path):
        calls.append(path)
        return read_directory(path)
    zipimport._read_directory = counted
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = read_directory
    return calls

files = {"top.py": "X = 1\n", "pkg/__init__.py": "", "pkg/a.py": "A = 1\n"}
write(files)
sys.path.insert(0, archive)
import top, pkg.a
assert reuse_zip_directories()
assert reads() == [] and reads() == []
write({**files, "newtop.py": "N = 2\n", "pkg/new.py": "B = 3\n"})
assert reads() == [archive]
import newtop, pkg.new
assert (newtop.N, pkg.new.B) == (2, 3)
assert reads() == []
print("ok")
"""


def test_reuse_zip_directories_rereads_only_a_changed_archive(tmp_path):
    """Without Spark: an unchanged archive is never re-read; after the
    archive is rewritten in place, one re-read serves the root importer
    and the package sub-path importer, so new modules import from
    both."""
    if not (3, 10) <= sys.version_info[:2] < (3, 13):
        pytest.skip("the replacement is installed on Python 3.10-3.12 only")
    env = {**os.environ, "PYTHONPATH": session_conf(4)["spark.executorEnv.PYTHONPATH"]}
    result = subprocess.run(
        [sys.executable, "-c", _ZIP_REUSE_SCRIPT, str(tmp_path / "lib.zip")],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert result.returncode == 0, result.stderr
    assert result.stdout.split() == ["ok"]


def test_reuse_zip_directories_installs_nothing_outside_3_10_to_3_12():
    """3.9 has no ``zipimporter.invalidate_caches``; 3.13 is lazy already."""
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    assert not reuse_zip_directories((3, 13))
    assert not reuse_zip_directories((3, 9))
    assert getattr(zipimport.zipimporter, "invalidate_caches", None) is method


def test_session_conf_puts_the_package_on_the_workers_path():
    """The workers find the daemon module from any working directory;
    an ``extra_conf`` entry replaces the default."""
    conf = session_conf(4)
    package = os.path.join(conf["spark.executorEnv.PYTHONPATH"], "gecko_spark")
    assert os.path.isfile(os.path.join(package, "worker_daemon.py"))
    conf = session_conf(4, {"spark.python.daemon.module": "pyspark.daemon"})
    assert conf["spark.python.daemon.module"] == "pyspark.daemon"


def test_session_conf_starts_the_driver_with_two_compiler_threads():
    """The driver JVM runs one C1 and one C2 compiler thread; an
    ``extra_conf`` entry for the same key replaces the flag."""
    conf = session_conf(4)
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=2"
    conf = session_conf(4, {"spark.driver.defaultJavaOptions": "-XX:CICompilerCount=3"})
    assert conf["spark.driver.defaultJavaOptions"] == "-XX:CICompilerCount=3"


def test_driver_jvm_runs_with_two_compiler_threads(spark):
    """The flag reaches the command line of the session's JVM."""
    runtime = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert "-XX:CICompilerCount=2" in list(runtime.getInputArguments())


def test_fresh_seed_compiles_no_new_code(spark, fruit_freq):
    """A second seed's plan reuses the first seed's generated classes:
    ``HashRandom`` hashes the seed as an array literal, which generated
    code references instead of inlining."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    spec = [
        ("fruit", G.from_frequency_table(fruit_freq, "fruit", "count")),
        ("x", G.from_uniform_distribution(0, 100)),
    ]

    def run(seed):
        df = to_data_frame(spark, spec, 2000, seed=seed, keep_index=True)
        out = mutate_data_frame(
            df,
            [("fruit", (0.5, M.with_delete())), ("x", (0.3, M.with_missing_value("")))],
            seed=seed,
        )
        out.write.format("noop").mode("overwrite").save()

    run(101)
    before = metric.getCount()
    run(202)
    assert metric.getCount() - before == 0
