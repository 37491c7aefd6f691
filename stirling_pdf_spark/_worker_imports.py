"""Import-cache invalidation that skips unchanged zip archives.

At the start of every task a Spark Python worker calls
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``).
Before CPython 3.13 that makes every ``zipimport.zipimporter`` on
``sys.path`` re-read its whole archive directory: the spark-core jar,
``pyspark.zip`` and this package's zip, several importers each. A warm
worker spends about 0.17 s of CPU per task on it before it reads a row.

``install()`` swaps ``zipimporter.invalidate_caches`` for one that
re-reads an archive only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the last read, so a rewritten or replaced zip is still
picked up. It acts only inside Spark Python workers and only on
interpreters whose zipimporter re-reads eagerly; from 3.13 on,
``invalidate_caches`` just drops the cache entry and the next import
re-reads lazily, so there is nothing to save.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat signature at its last directory read
_read_at: dict[str, tuple[int, int, int]] = {}
_reread = zipimport.zipimporter.invalidate_caches


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    sig = _signature(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and cached is not None and _read_at.get(self.archive) == sig:
        # unchanged since the last read; another importer on the same
        # archive may have done that read, so take its directory
        self._files = cached
        return
    # signature first: a write racing the read changes it again
    _reread(self)
    if sig is not None:
        _read_at[self.archive] = sig


def _in_spark_worker() -> bool:
    # pyspark's worker sets this before it unpickles the task's function,
    # which is what imports this package there
    files = sys.modules.get("pyspark.core.files")
    return bool(files and files.SparkFiles._is_running_on_worker)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` in Spark Python workers on
    CPython < 3.13. Returns whether the patch is on."""
    if sys.version_info >= (3, 13) or not _in_spark_worker():
        return False
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
