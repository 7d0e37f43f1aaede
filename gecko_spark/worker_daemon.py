"""PySpark worker daemon that forks its Python workers with numpy, pandas
and pyarrow already imported.

Run as ``python -m gecko_spark.worker_daemon`` by Spark when
``spark.python.daemon.module`` names it (:func:`gecko_spark.get_spark`
sets it). The libraries are imported once in the daemon and
``gc.freeze()`` moves every object built so far out of the collector's
reach, so the forked workers share those pages copy-on-write instead of
each importing its own copy.
"""

import gc

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon

if __name__ == "__main__":
    gc.freeze()
    daemon.manager()
