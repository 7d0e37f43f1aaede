"""PySpark worker daemon that forks its Python workers with numpy, pandas
and pyarrow already imported.

Run as ``python -m gecko_spark.worker_daemon`` by Spark when
``spark.python.daemon.module`` names it (:func:`gecko_spark.get_spark`
sets it). The libraries are imported once in the daemon and
``gc.freeze()`` moves every object built so far out of the collector's
reach, so the forked workers share those pages copy-on-write instead of
each importing its own copy.

Before it forks, the daemon also stops each task from re-reading the
zip archives it imports from (:func:`reuse_zip_directories`). PySpark
calls ``importlib.invalidate_caches()`` at the start of every Python
task (``worker_util.setup_spark_files``). On Python 3.10-3.12 that makes
every ``zipimporter`` re-read its archive's directory (CPython
gh-103200; 3.13 reads it lazily). Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, as cluster executors do, and
hold about 16 importers of that 1328-entry archive. Together they cost
each task 0.1-0.2 s of CPU before it reads a row. The fix matters
only on Python 3.10-3.12 with pyspark imported from a zip; on a cluster
it comes with ``spark.python.daemon.module``.
"""

import gc
import os
import sys
import zipimport

import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
from pyspark import daemon


def reuse_zip_directories(version: tuple[int, int] = sys.version_info[:2]) -> bool:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_mtime_ns, st_size)`` changed
    since the last read, as CPython 3.13 does, and return whether the
    replacement was installed (only for Python 3.10-3.12: 3.9 has no such
    method and 3.13 is lazy already).

    The archives already in ``zipimport._zip_directory_cache`` are
    stamped now, so a process forked later re-reads none of them. An
    unchanged archive's importer adopts the cached directory: the root
    importer and each package sub-path importer hold their own
    ``_files``, and the first of them to see a change re-reads the
    archive for all the others.
    """
    if not (3, 10) <= version < (3, 13):
        return False
    reread = zipimport.zipimporter.invalidate_caches
    directories = zipimport._zip_directory_cache

    def stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    stamps = {archive: stamp(archive) for archive in directories}

    def invalidate_caches(self):
        # stat before the read: a change during the read shows next time
        now = stamp(self.archive)
        if now is not None and stamps.get(self.archive) == now and self.archive in directories:
            self._files = directories[self.archive]
        else:
            reread(self)
            stamps[self.archive] = now

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    reuse_zip_directories()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
