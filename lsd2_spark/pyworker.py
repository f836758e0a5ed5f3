"""Python-worker start-up cost: PySpark's per-task zip re-read.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  Before CPython
3.13, ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, and it runs once per zipimporter in
``sys.path_importer_cache``: a worker holds about 14 of them over
``pyspark.zip`` (one per package directory it imported from), so every
Arrow UDF and ``applyIn*`` task re-reads the same unchanged archive 14
times before it starts its own work.  CPython 3.13 made the re-read
lazy.

When the engine is imported inside a Python worker on an older CPython,
:func:`install` replaces the method with :func:`cached_invalidate_caches`,
which re-reads an archive only when its (inode, size, mtime) differs
from the last read.  A worker's first task pays the re-reads; the tasks
it runs after that pay one ``stat`` per importer.
"""

from __future__ import annotations

import os
import sys
import zipimport
from typing import Callable

__all__ = ["cached_invalidate_caches", "install"]


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def cached_invalidate_caches(reread: Callable) -> Callable:
    """A ``zipimporter.invalidate_caches`` that calls ``reread`` (the
    original method) only when the importer's archive has changed since
    an importer of it last re-read it; otherwise the importer takes the
    shared cached directory."""
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        # the stamp is taken before the read: an archive replaced during
        # the read leaves an older stamp, so the next call reads again
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is None:
            stamps.pop(self.archive, None)
        else:
            stamps[self.archive] = stamp

    invalidate_caches.reread = reread
    return invalidate_caches


def install() -> bool:
    """Install :func:`cached_invalidate_caches` on ``zipimporter`` when
    this process is a PySpark Python worker on CPython < 3.13; True when
    it is installed."""
    if sys.version_info >= (3, 13) or "pyspark.worker" not in sys.modules:
        return False
    current = zipimport.zipimporter.invalidate_caches
    if not hasattr(current, "reread"):
        zipimport.zipimporter.invalidate_caches = cached_invalidate_caches(current)
    return True
