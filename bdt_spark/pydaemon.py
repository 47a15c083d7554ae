"""Spark's Python worker daemon (`pyspark.daemon`) with one import-system
patch, applied before the daemon forks its workers. `session.get_spark`
names this module in `spark.python.daemon.module`, so the JVM runs
`python -m bdt_spark.pydaemon` in place of `python -m pyspark.daemon`.

Before every task, a reused worker calls `importlib.invalidate_caches()`
(`pyspark.worker_util.setup_spark_files`). On CPython < 3.13 that makes
every `zipimporter` re-read its whole archive directory: a worker holds a
dozen importers over `pyspark.zip`, two over the spark-core jar and two
over py4j, about 0.2 s of CPU per task against a UDF of a few ms. The
patched method re-reads an archive only when its (mtime, size) differs
from when this method last read it, and otherwise reuses the directory
already in `zipimport._zip_directory_cache`. CPython 3.13 already
invalidates lazily, so there the stdlib method is left as it is.
"""

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
_read_stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last re-read


def _invalidate_caches(self):
    """Re-read this archive's directory only if the archive has changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    _read_stamps[self.archive] = stamp


def guard_zip_invalidation():
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    guard_zip_invalidation()
    from pyspark.daemon import manager

    manager()
