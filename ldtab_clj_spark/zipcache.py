"""Keep zipimport's archive directories while the archive is unchanged.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Up to Python
3.12, ``zipimport.zipimporter.invalidate_caches`` answers that by
re-reading the archive's whole central directory, and a worker holds
one zipimporter per imported sub-package of ``pyspark.zip`` (1,328
entries). A worker that ran a package Python stage held 17
zipimporters, 12 of them over ``pyspark.zip``; re-reading them all took
0.15-0.23 s per task with four workers busy on a 4-core box, which was
most of the fixed cost of a Python task.

``install`` replaces that method with ``invalidate_if_changed``, which
re-reads an archive only when its ``(st_size, st_mtime_ns)`` differs
from when its directory was last read, and otherwise points the
importer at the cached directory. An archive that really changed is
still re-read. The first call per archive always re-reads, since the
directory cached before ``install`` carries no stamp.

The package installs it only inside a PySpark worker process
(``__init__``), so a driver's zipimport keeps the stdlib behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STDLIB_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> (st_size, st_mtime_ns) taken just before its directory
# was last read. Process-wide, like zipimport._zip_directory_cache,
# whose entries it stamps.
_read_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if (stamp is not None and cached is not None
            and _read_stamps.get(self.archive) == stamp):
        self._files = cached
        return
    # stamp taken before the read: a write racing the read leaves a
    # stale stamp, so the next call reads again
    _STDLIB_INVALIDATE(self)
    _read_stamps[self.archive] = stamp


def in_pyspark_worker() -> bool:
    """True in a Python worker after it set up the task's files. Looks
    the module up without importing it, so a driver pays nothing."""
    files = sys.modules.get("pyspark.core.files")
    return files is not None and files.SparkFiles._is_running_on_worker


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
