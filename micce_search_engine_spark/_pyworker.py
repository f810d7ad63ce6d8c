"""Stop PySpark's Python workers from re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13, that makes every ``zipimporter`` on the worker's
``sys.path`` re-read its archive's whole central directory: one read
per importer of ``pyspark.zip``, the py4j zip, the spark-core jar and
this package's zip. On a 4-core host that is ~250 ms per task, paid
before any engine code runs. CPython 3.13 made the re-read lazy.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a
version that re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp taken just before
this process last read it. Otherwise it keeps the cached directory.
A changed or newly added archive is still read fresh, and an archive
that fails to read still clears its cache entry, as in the stdlib.

The package ``__init__`` calls :func:`install`, so it runs wherever a
package UDF is unpickled. It does nothing on the driver and on
Python >= 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (st_mtime_ns, st_size), taken just before this
#: process last read that archive's directory
_stamps: dict[str, tuple[int, int]] = {}

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives.

    The stamp is taken before the read, so an archive that changes
    during the read has a newer stamp than the one recorded and is
    read again next time."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stdlib_invalidate_caches(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def active() -> bool:
    """Whether this process's zipimporters skip unchanged archives."""
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> bool:
    """Install the fix if this process is running a Spark task; return
    whether it is active. Idempotent.

    Installing reads each archive already on ``sys.path`` once, to take
    its stamp, so the worker's next task is already fast."""
    if sys.version_info >= (3, 13):
        return False
    # a process that never imported pyspark.taskcontext runs no task;
    # checking sys.modules keeps Spark-free imports from loading pyspark
    tc = sys.modules.get("pyspark.taskcontext")
    if tc is None or tc.TaskContext.get() is None:
        return False
    if not active():
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
    return True
