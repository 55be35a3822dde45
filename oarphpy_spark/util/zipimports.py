"""Cheap ``importlib.invalidate_caches()`` in Python workers.

Every Python task calls ``importlib.invalidate_caches()`` while it sets
up the session's shipped files (``setup_spark_files`` in PySpark's
``worker_util.py``). Before Python 3.13, ``zipimporter.invalidate_caches``
re-reads its archive's whole central directory, once per ``zipimporter``
instance. A worker that imported PySpark from ``pyspark.zip`` holds one
instance per PySpark subpackage it touched, all on the same 1.3k-entry
archive, so every task re-read it a dozen times and more: about 0.2 s of
each Python task's run time on a 4-vCPU host, for a task that needs a
few milliseconds. Python 3.13 made the call lazy.

:func:`install` gives earlier versions the same cost: an archive is
re-read only when its ``(mtime_ns, size)`` changed since it was last
read. A zip rewritten in place (``spark.files.overwrite``) or shipped
under a new name is still picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (mtime_ns, size) when its directory was last read.
_READ_STAMPS: dict[str, tuple[int, int] | None] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size)


def _invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _READ_STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _READ_STAMPS[self.archive] = stamp


_invalidate_caches.stat_checked = True


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` stat-checked in this
    process. Idempotent; a no-op on Python 3.13+."""
    current = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(current, "stat_checked", False):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
