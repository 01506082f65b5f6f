"""Spark Python worker daemon: ``pyspark.daemon`` with a stat-checked
zip-import cache.

PySpark calls ``importlib.invalidate_caches()`` at the start of every
task (``worker_util.setup_spark_files``). Before CPython 3.13 that makes
every ``zipimporter`` re-read the whole central directory of its archive,
and a warm worker holds 16-30 importers over the 1,328-entry
``pyspark.zip``: ~200 ms of every task on a 4-vCPU host, whatever the
task does. Here an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size, st_ino)`` changed since that importer last read
it, so an archive rewritten in place is still picked up; new ``sys.path``
entries get new finders as before. 3.13+ only drops a cache entry on
invalidation, and the wrapper keeps that behavior too.

``session.get_spark`` selects this module through
``spark.python.daemon.module``; it then runs ``pyspark.daemon`` unchanged
(signal handling, forking and worker reuse all stay pyspark's).
"""

from __future__ import annotations

import os
import runpy
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    # Stat BEFORE the re-read: a rewrite racing the read leaves the old
    # stamp behind, so the next call reads again.
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
