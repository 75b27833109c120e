"""Stop Spark Python workers re-reading zip archives they already hold.

Every task on a reused Python worker runs pyspark's
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-parses its archive's central
directory eagerly, and a worker holds one zipimporter per package path
inside ``pyspark.zip`` (15-16 of them), so every task re-read that
directory 16 times: about 0.1 s between task launch and kernel
unpickle on a 4-core host (SCALING.md). CPython 3.13 only drops a
shared cache there.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
changed since the last read; otherwise the importer takes the directory
already in ``zipimport._zip_directory_cache``. An archive that does
change is still re-read. The package installs it when it is imported in
a Spark Python worker (``PYTHON_WORKER_FACTORY_SECRET`` is set only
there), so the first task that unpickles a package kernel on a worker
spares every later task on it.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "_graft_guard", False)


def install() -> None:
    """Patch ``zipimport`` in this process (idempotent; a no-op on
    CPython 3.13+, which no longer re-reads eagerly)."""
    if sys.version_info >= (3, 13) or installed():
        return
    read_directory = zipimport._read_directory
    reinvalidate = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int] | None] = {}

    def stamped_read(archive):
        # stat BEFORE reading: a write racing the read leaves an old
        # stamp, so the next invalidation re-reads
        stamp = _stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        cached = zipimport._zip_directory_cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if cached is not None and stamp is not None and stamp == _stamp(self.archive):
            self._files = cached
            return
        reinvalidate(self)

    invalidate_caches._graft_guard = True
    zipimport._read_directory = stamped_read
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def install_in_worker() -> None:
    if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        install()
