"""PySpark worker daemon that re-reads a zip archive only when it changed.

``get_spark`` names this module as ``spark.python.daemon.module``; Spark
starts it as ``python -m dataflowjavasdk_spark._worker_daemon`` and it
forks the Python workers. Every task begins with
``importlib.invalidate_caches()``. On CPython < 3.12 that makes each
``zipimporter`` re-parse its whole archive directory; a worker holds one per
imported subpackage of ``pyspark.zip`` (1,328 entries), which cost
~0.1-0.2 s per task. The patch below re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken before the read
that filled ``zipimport._zip_directory_cache``. CPython 3.12 reads lazily
(gh-103200), so there the daemon runs unpatched.
"""

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_read_stamps: dict[str, tuple[int, int]] = {}
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate_caches(self)
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)
    if self.archive in zipimport._zip_directory_cache:  # the read succeeded
        _read_stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` in this process (< 3.12)."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
