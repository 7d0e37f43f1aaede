"""Session and randomness plumbing of ``gecko_spark.core``: the Python
worker daemon and the driver JVM's JIT threads that ``get_spark``
configures, and generated code that does not depend on the seed."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from gecko_spark.core import session_conf
from gecko_spark.operators import generators as G
from gecko_spark.operators import mutators as M
from gecko_spark.plans.pipeline import mutate_data_frame, to_data_frame


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
