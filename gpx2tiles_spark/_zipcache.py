"""Zip-importer directory cache for Spark Python workers (Python < 3.13).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``setup_spark_files`` in ``pyspark/worker_util.py``).  Up to
Python 3.12, ``zipimporter.invalidate_caches`` re-reads the archive's
whole central directory at once, and a worker holds one zipimporter per
package directory it imported from ``pyspark.zip`` (~16, over an archive
of ~1,300 entries).  Measured with cProfile in a worker on Python 3.11:
~0.2 CPU-s per task, paid by every Python task of a render (~20).
Python 3.13 only drops the cached directory and re-reads it lazily on
the next lookup (``zipimporter.invalidate_caches`` / ``_get_files`` in
its ``zipimport.py``), so this module does nothing there.

:func:`install` replaces the method with one that re-reads an archive
only when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last
read: a ``--py-files`` zip rewritten in place or replaced is still seen.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key taken just before its directory was last read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` (idempotent)."""
    if installed():
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None \
                and _read_at.get(self.archive) == key:
            self._files = files  # unchanged archive: share the last read
            return
        reread(self)
        _read_at[self.archive] = key

    invalidate_caches._gpx2tiles_zipcache = True
    cls.invalidate_caches = invalidate_caches


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "_gpx2tiles_zipcache", False)


def on_spark_worker() -> bool:
    """True inside a PySpark Python worker (set before the task's
    functions are unpickled, which is what imports this package)."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)
