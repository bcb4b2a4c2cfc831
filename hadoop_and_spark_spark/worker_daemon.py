"""PySpark worker daemon that reads each zip archive's directory once.

``session.get_spark`` names this module as ``spark.python.daemon.module``,
so Spark starts it with ``python -m`` in place of ``pyspark.daemon``
and every Python worker is forked from it.

Every task runs ``pyspark.worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython 3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
central directory; a worker holds one per package it imported from
``pyspark.zip`` (~16 of them over its ~1.3k entries), which costs
~0.27 CPU-s per task on an archive that does not change. Before
``pyspark.daemon`` runs, this module puts ``StableZipImporter`` in
place of ``zipimport.zipimporter`` in ``sys.path_hooks`` and in the
importer cache, so a forked worker inherits importers that re-read
an archive only when its ``(st_size, st_mtime_ns)`` changed, the same
file-identity rule as ``catalog.read_parquet``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _identity(path: str) -> tuple[int, int] | None:
    """``catalog._identity``'s rule for one file, or None if it is
    gone. Not imported from catalog, which would load ``pyspark.sql``
    into the daemon and so into every worker it forks."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


class StableZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches`` re-reads the
    archive only when the archive file changed."""

    def __init__(self, path):
        super().__init__(path)
        self._identity = _identity(self.archive)

    def invalidate_caches(self):
        identity = _identity(self.archive)
        if identity is not None and identity == self._identity:
            return
        super().invalidate_caches()
        self._identity = identity


def install() -> None:
    """Use ``StableZipImporter`` for every zip path entry, the ones
    already imported from and the ones to come."""
    sys.path_hooks[:] = [
        StableZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[entry] = StableZipImporter(entry)


if __name__ == "__main__":
    # install from the module under its package name, so the workers'
    # importers are hadoop_and_spark_spark.worker_daemon's class and
    # not a second copy defined in __main__
    from hadoop_and_spark_spark.worker_daemon import install

    install()
    from pyspark.daemon import manager

    manager()
