"""PySpark worker module: Python tasks stop re-reading pyspark.zip.

PySpark calls ``importlib.invalidate_caches()`` before each task, and on
Python 3.11 each cached zipimporter then re-reads its archive (0.51 s of
a 0.55 s one-task job).  Imported by the daemon before it forks
(``spark.python.worker.module``, set by ``session.get_spark``), this
re-reads an archive only when its (inode, size, mtime_ns) stat changed.
"""

import os
import sys
import zipimport

from pyspark.worker import main  # noqa: F401 — the daemon runs module.main


def _install() -> bool:
    cache = getattr(zipimport, "_zip_directory_cache", None)
    stock = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if not isinstance(cache, dict) or stock is None:
        return False  # without these private names, the stock stays
    read_at: dict[str, tuple | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            sig = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            sig = None
        if sig and read_at.get(self.archive) == sig and self.archive in cache:
            self._files = cache[self.archive]
        else:
            stock(self)
            read_at[self.archive] = sig

    invalidate_caches.stock = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # one read per archive here, so forked workers start with every stat
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()
    return True


_install()
