"""PySpark worker daemon that re-reads a zip archive only when it changed.

Every Python task starts with PySpark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``, reused workers included. On
CPython 3.11 each ``zipimporter`` in ``sys.path_importer_cache`` then
re-parses its archive's central directory in pure Python. A worker holds
about 16 such entries over three archives (``pyspark.zip``, the py4j zip
and the ``spark-core`` jar Spark puts on the worker path), about 26.7k
directory records per task: ~0.25-0.4 s before any user code runs, on a
4-core VM.

Run as the daemon (``spark.python.daemon.module``, set by
``session.get_spark``), this module replaces
``zipimport.zipimporter.invalidate_caches`` with :func:`invalidate_caches`,
which keys each archive on ``(st_mtime_ns, st_size, st_ino)`` and runs the
original only when that key is new or has changed. An archive that changes
is still re-read, once, and every importer of it picks up the new
directory. The daemon records the keys before it forks, so a fresh
worker's first task skips the re-read too. Then it runs PySpark's own
``pyspark.daemon.manager()``.

Importing this module changes nothing; only running it with ``-m``
patches ``zipimport``. Its state is per process, like ``zipimport``'s own
directory cache, and forked workers inherit the daemon's.
"""

from __future__ import annotations

import os
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches

#: Archive path -> stat key at its last directory read.
_read_keys: dict[str, tuple[int, int, int] | None] = {}

#: Directory reads :func:`invalidate_caches` let through in this process.
rereads = 0


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    global rereads
    archive = self.archive
    key = _stat_key(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if key is not None and files is not None and _read_keys.get(archive) == key:
        # Another importer of the same archive may have re-read it already.
        self._files = files
        return
    # Stat before reading: a change during the read shows as a new key next time.
    rereads += 1
    _original_invalidate(self)
    _read_keys[archive] = key


if __name__ == "__main__":
    # Run through the package module, so tasks see the same ``rereads``.
    import importlib

    from chess_lakehouse_spark import _pydaemon

    zipimport.zipimporter.invalidate_caches = _pydaemon.invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before the fork
    from pyspark import daemon

    daemon.manager()
