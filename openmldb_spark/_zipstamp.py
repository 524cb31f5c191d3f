"""Re-read a zip archive on the Python worker's path only when it changed.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which ends with ``importlib.invalidate_caches()``. On CPython 3.11 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory: one importer per package of
``pyspark.zip`` and two of the spark-core jar, about 0.25 s per task on
a 4-core host. A reused worker pays it on every task, although the
archives do not change while it lives.

``install_on_worker()`` replaces ``zipimporter.invalidate_caches`` in a
Python worker (never on the driver) with a version that keeps the cached
directory while the archive's ``stat`` stamp (mtime_ns, size, inode) is
the one taken when it was last read here. A rewritten archive, or one
whose directory has left ``zipimport._zip_directory_cache``, is re-read
as before. The first call for each archive after installation reads it
once, for all importers of that archive.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its directory was read
_read_at: dict[str, tuple[int, int, int]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    # stamp BEFORE reading: a rewrite racing the read leaves a stale
    # stamp beside fresh content, which costs one more read, never a
    # stale directory
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and files is not None
            and _read_at.get(self.archive) == stamp):
        self._files = files
        return
    _reread(self)
    # a failed read drops the directory from the cache, so the next
    # call reads again whatever stamp is kept
    if stamp is not None:
        _read_at[self.archive] = stamp


def on_worker() -> bool:
    """True inside a PySpark Python worker: ``setup_spark_files`` marks
    ``SparkFiles`` before any task code is unpickled."""
    files = sys.modules.get("pyspark.core.files")
    return bool(files is not None
                and getattr(files.SparkFiles, "_is_running_on_worker", False))


def install_on_worker() -> None:
    if on_worker():
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
