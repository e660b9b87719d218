"""PySpark's worker daemon, minus the per-task re-read of every zip on
the worker's path.

Each Python task ends its setup (``pyspark.worker_util.
setup_spark_files``) with ``importlib.invalidate_caches()``. On CPython
3.11 that calls ``zipimport.zipimporter.invalidate_caches`` on every zip
importer in ``sys.path_importer_cache``, and each re-reads its archive's
whole central directory: pyspark.zip (one importer per sub-package) and
the spark-core jar, 0.15-0.35 s of every task on a 4-CPU host. Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` differs from
the stamp taken when its cached directory was read; then
``pyspark.daemon.manager()`` runs, and the workers it forks inherit the
replacement.

``session.get_spark`` names this module ``spark.python.daemon.module``
in local mode only. The daemon starts before any task, and on a cluster
the package may reach executors only through ``--py-files``, at task
time.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}  # archive -> stamp of its cached directory


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps an unchanged archive's
    cached directory."""
    stamp = _stamp(self.archive)
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or cached is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        self._files = cached


def install() -> None:
    """Replace the method, then read each archive on the path once so
    its stamp is known."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
