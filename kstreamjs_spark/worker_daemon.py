"""PySpark worker daemon that stops re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py:setup_spark_files``). Before Python
3.13, each ``zipimport.zipimporter`` answers that call by re-reading its
whole archive directory. Workers import pyspark from ``pyspark.zip``, one
importer per package inside it, so every task re-parsed about 26.7k
directory entries: 0.14-0.21 s of the 0.16-0.23 s CPU of a warm q26d
task on a 4-vCPU host, against a 12 ms numpy fold.

:func:`install` makes that call re-read an archive only when its
``(st_mtime_ns, st_size)`` stamp has changed, as ``importlib``'s
``FileFinder`` already does for directories (keyed on mtime). Importers
of an unchanged archive reuse ``zipimport._zip_directory_cache``, so
every file that was importable after the old call still is.

``get_spark`` starts Python workers through this module with Spark's
``spark.python.daemon.module``. Run as ``__main__`` it installs the
wrapper, stamps every archive on ``sys.path`` once so forked workers
inherit the stamps, and hands over to ``pyspark.daemon.manager()``.
Nothing may reach stdout before that: the JVM reads the daemon's port
from it.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) when its directory was last read
_STAMPS: dict[str, tuple[int, int]] = {}
_ORIGINAL = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Re-read ``self.archive`` only if it changed since its last read."""
    archive = self.archive
    # Stamp before reading: a write that lands during the read changes
    # the stamp again, so the next call re-reads.
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _STAMPS.get(archive) == stamp:
        self._files = files
        return
    _STAMPS.pop(archive, None)
    _ORIGINAL(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _STAMPS[archive] = stamp


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a no-op on Python >= 3.13,
    whose version only drops the cache entry and reads lazily."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    importlib.invalidate_caches()

    from pyspark.daemon import manager

    manager()
