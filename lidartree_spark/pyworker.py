"""Worker-side start-up fix: stop re-reading every zip index before each task.

Before every Python task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory right away. A warm worker holds about 16 zipimporters (pyspark.zip,
the py4j zip, spark-core's jar, plus a ``--py-files`` zip), so every task
parsed ~27k directory entries, 0.1-0.25 s, before its UDF started.

``install`` makes that re-read conditional: an importer reads its archive
again only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from
when that importer last read it, so a rewritten or replaced zip is still
picked up. CPython 3.13 made the call lazy; there ``install`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    if sys.version_info >= (3, 13):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_gated", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._dir_stamp = None
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        if getattr(self, "_dir_stamp", None) != stamp:
            original(self)
            self._dir_stamp = stamp

    invalidate_caches._stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
