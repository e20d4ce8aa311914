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

Before it imports pyspark, the daemon also moves ``pyspark.zip`` behind an
installed copy of the same pyspark on ``sys.path``
(:func:`installed_pyspark_first`). The archive holds sources only, no
``.pyc``, so every daemon compiled pyspark from source: importing
``pyspark.daemon`` took 0.9-1.2 s from the archive against 0.2 s from an
installed copy, on a 4-core VM, and a fresh worker's first task logged
``Times: total`` of 0.79-0.86 s instead of 0.40-0.45 s. Only a copy whose
``pyspark/version.py`` is byte-identical to the archive's is used;
otherwise the path stays as Spark set it.

Importing this module changes nothing; only running it with ``-m``
patches ``zipimport`` and reorders ``sys.path``. Its state is per process,
like ``zipimport``'s own directory cache, and forked workers inherit the
daemon's.
"""

from __future__ import annotations

import os
import sys
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


def installed_pyspark_first(path: list[str]) -> list[str]:
    """``path`` with each archive entry that holds pyspark moved just behind
    the first directory entry that holds pyspark, when every such archive's
    ``pyspark/version.py`` is byte-identical to the directory's; otherwise
    ``path`` unchanged. A directory entry that already comes first wins
    as it is, and nothing moves."""
    archives: list[tuple[int, bytes]] = []
    for i, entry in enumerate(path):
        if os.path.isfile(entry):
            try:
                archives.append((i, zipimport.zipimporter(entry).get_data("pyspark/version.py")))
            except (OSError, zipimport.ZipImportError):
                pass
            continue
        try:
            with open(os.path.join(entry or os.curdir, "pyspark", "version.py"), "rb") as f:
                installed = f.read()
        except OSError:
            continue
        if not archives or any(v != installed for _, v in archives):
            return path
        moved = {j for j, _ in archives}
        rest = [e for j, e in enumerate(path) if j not in moved]
        at = rest.index(entry) + 1
        return rest[:at] + [path[j] for j in sorted(moved)] + rest[at:]
    return path


if __name__ == "__main__":
    # Run through the package module, so tasks see the same ``rereads``.
    import importlib

    from chess_lakehouse_spark import _pydaemon

    zipimport.zipimporter.invalidate_caches = _pydaemon.invalidate_caches
    importlib.invalidate_caches()  # read each archive once, before the fork
    sys.path[:] = _pydaemon.installed_pyspark_first(sys.path)
    from pyspark import daemon

    daemon.manager()
