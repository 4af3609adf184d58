"""Re-read a zip archive's directory only when the archive changed.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, and before Python 3.12 each cached ``zipimporter`` then re-parses
its whole archive directory: ~21k entries of ``pyspark.zip``, py4j and
the spark-core jar, ~0.25 CPU-s per task. ``install()`` records each
archive's ``(st_ino, st_size, st_mtime_ns)`` when it is read and keeps
the cached directory while the stamp matches; anything else takes the
original path. No-op on Python >= 3.12, whose invalidation is lazy.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def install() -> None:
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 12) or hasattr(zi.invalidate_caches, "_orig"):
        return
    read_directory = zipimport._read_directory
    invalidate = zi.invalidate_caches

    def _read_directory(archive):
        # stat BEFORE the read: a write racing it leaves an old stamp,
        # so the next invalidate re-reads
        stamp = _stamp(archive)
        files = read_directory(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None \
                and _stamps.get(self.archive) == stamp:
            self._files = files
        else:
            invalidate(self)

    invalidate_caches._orig = invalidate
    zipimport._read_directory = _read_directory
    zi.invalidate_caches = invalidate_caches
