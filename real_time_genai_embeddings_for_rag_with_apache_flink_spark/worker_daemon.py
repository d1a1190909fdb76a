"""PySpark worker daemon that keeps zip directories read once.

``build_session`` names this module as ``spark.python.daemon.module``.
Before every task, PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython before 3.13 that
makes every ``zipimporter`` re-parse its whole archive directory in
pure Python: the worker's path holds ``pyspark.zip`` and the Spark core
jar, some 26,000 entries over its importers, 140-270 ms per task on a
4-core host before any user code runs. Here an archive's directory is
re-read only when the archive is new to this process or its
``(st_ino, st_size, st_mtime_ns, st_ctime_ns)`` changed; otherwise the
importer reattaches the directory already read. The rest of
``invalidate_caches()`` is untouched, and a zip added with ``addPyFile``
is a new path entry that gets a new importer, read fresh.

The guard goes in before ``pyspark.daemon`` forks its workers, so every
worker has it before its first task. The daemon starts before any task,
so it sees only the executor's own Python path: this package must be
installed on the executors (or be on their ``PYTHONPATH``). Shipping it
with ``--py-files`` / ``addPyFile`` alone is not enough, as those reach
a worker's path only inside each task, after the daemon has started.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches
# per process, like the zipimport._zip_directory_cache it vouches for:
# archive -> (st_ino, st_size, st_mtime_ns, st_ctime_ns) when its
# directory was read
_read: dict[str, tuple[int, int, int, int] | None] = {}


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate(self)
    _read[self.archive] = key


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` in this process and read
    each archive on the path once, so forked workers inherit it."""
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
