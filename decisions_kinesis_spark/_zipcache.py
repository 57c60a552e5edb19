"""Stat-keyed ``zipimporter.invalidate_caches`` for CPython < 3.12.

Every Python worker task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On 3.11 each
``zipimporter`` — one per package directory imported from
``$SPARK_HOME/python/lib/pyspark.zip``, which Spark puts first on the
worker ``PYTHONPATH`` — eagerly re-reads the archive's ~1,300-entry
directory: 70-100 ms of CPU per task.  3.12 made the call lazy
(gh-103200).  Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since its directory was last read,
so a new or rewritten zip (``addPyFile``) is still picked up.
"""

from __future__ import annotations

import os
import zipimport

_stdlib_read_directory = zipimport._read_directory  # noqa: SLF001
_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> stat key taken just before its cached directory was read
_read_at: dict[str, tuple[int, int] | None] = {}


def _stat_key(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    key = _stat_key(archive)
    files = _stdlib_read_directory(archive)
    _read_at[archive] = key
    return files


def invalidate_caches(self) -> None:
    files = zipimport._zip_directory_cache.get(self.archive)  # noqa: SLF001
    key = _stat_key(self.archive)
    if files is None or key is None or _read_at.get(self.archive) != key:
        _stdlib_invalidate_caches(self)
    else:
        self._files = files


def install() -> None:
    """Swap in the stat-keyed version (idempotent; process-wide)."""
    zipimport._read_directory = _read_directory  # noqa: SLF001
    zipimport.zipimporter.invalidate_caches = invalidate_caches
