"""Re-read a zip archive on the import path only when it changed.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13 every ``zipimport.zipimporter`` answers by re-reading its archive's
whole central directory. A worker's path holds ``pyspark.zip``, the py4j zip
and the ``spark-core`` jar, with one importer per package prefix: 16
importers and about 27,000 directory entries, 0.2 s of each task before the
task's own code runs (CPython 3.11, 4-core host).

``install`` makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` differs from the one that importer last
read, so an archive added or rewritten between tasks (``--py-files``) is
still read. The package ``__init__`` calls it, so a worker pays the re-read
on its first task only: every engine function a worker runs is pickled by
reference and imports the package. CPython 3.13 invalidates lazily and is
left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self) -> None:
        # stat before reading: a write racing the read leaves a signature
        # that differs from the next one, so the next call reads again
        sig = _signature(self.archive)
        if sig is None or sig != getattr(self, "_read_signature", None):
            reread(self)
            self._read_signature = sig

    invalidate_caches.reread = reread
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder._read_signature = _signature(finder.archive)
    cls.invalidate_caches = invalidate_caches
