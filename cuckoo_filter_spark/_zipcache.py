"""Stat-keyed zipimport directory cache for Spark Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` become importable. On CPython < 3.13,
``zipimport.zipimporter.invalidate_caches`` eagerly re-reads the archive's
whole central directory, once per zipimporter, and there is one
zipimporter per package directory imported from a zip on ``sys.path``
(``pyspark.zip``, the py4j zip, a shipped package zip): about 16 directory
reads and ~190 ms of CPU per task on a 4-vCPU host, whatever the task
does. CPython 3.13 made the re-read lazy.

``install()`` replaces that method, in Spark Python workers only, with one
that keeps the cached directory while the archive's
``(st_mtime_ns, st_size, st_ino)`` is unchanged and otherwise calls the
original. A rewritten or replaced zip is still re-read, which is all the
per-task invalidation is for; a rewrite that keeps the inode, the size
and the nanosecond mtime is not seen, the same blind spot as Python's own
source-mtime checks.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original = None
#: archive path -> stat key taken just before its directory was last read
_stat_keys: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """Reload the archive's directory only if the archive changed."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None \
            and _stat_keys.get(self.archive) == key:
        self._files = files
        return
    # stat BEFORE the read: a rewrite racing the read leaves an old key,
    # so the next call reads again instead of trusting a stale directory
    _original(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _stat_keys[self.archive] = key
    else:
        _stat_keys.pop(self.archive, None)


def patch_zipimporter() -> bool:
    """Install the stat-keyed ``invalidate_caches`` in this process.
    Idempotent; a no-op returning False on CPython >= 3.13, whose
    invalidation is already lazy."""
    global _original
    if sys.version_info >= (3, 13):
        return False
    current = zipimport.zipimporter.invalidate_caches
    if current is not _invalidate_caches:
        _original = current
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


def install() -> bool:
    """``patch_zipimporter()`` if this process is running a Spark task.
    The driver is left alone: a worker has pyspark imported and a
    TaskContext set by the time it unpickles a UDF that imports this
    package."""
    if "pyspark" not in sys.modules:
        return False
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return False
    return patch_zipimporter()
