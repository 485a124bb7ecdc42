"""Spark Python daemon whose workers keep Spark's zip importers across tasks.

``get_spark`` selects this module through Spark's ``spark.python.daemon.module``
setting.  It changes one thing in the import system, then runs the stock
``pyspark.daemon.manager()``, which forks every Python worker from it.

Why: PySpark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``pyspark.worker_util.setup_spark_files``).  On CPython
3.11 and 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads its
archive's whole central directory at once.  A worker's path holds
``pyspark.zip``, the py4j zip and the spark-core jar, and the import system
keeps one importer per imported package directory inside them, so each
task re-read those archives about a dozen times: 120-240 ms per task on a
4-core host, against well under 1 ms for a one-row user function.

What: before the daemon forks, every plain ``zipimporter`` in
``sys.path_importer_cache`` is swapped for :class:`StableZipImporter`,
whose ``invalidate_caches`` does nothing, and so is the ``zipimporter``
entry in ``sys.path_hooks``, so importers created later are stable too.

Why a no-op is safe: Spark's archives never change under a running
worker; ``pyspark.zip``, the py4j zip and the jars are fixed for the
life of the application.  A zip added at run time (``addPyFile``) lands
on the worker's path as a new entry, so the hook builds a fresh importer
for it, and that importer still reads its archive once, on creation.
Directory entries keep the stock ``FileFinder``, whose cache
invalidation is unchanged.
"""

from __future__ import annotations

import sys
import zipimport


class StableZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that keeps its directory table on
    ``invalidate_caches``; the archive is read once, on creation (the
    stock constructor reuses an already-read table for the same archive)."""

    def invalidate_caches(self) -> None:
        pass


def install() -> None:
    """Make every current and future zip importer a StableZipImporter."""
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            sys.path_importer_cache[entry] = StableZipImporter(entry)
    sys.path_hooks[:] = [
        StableZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
