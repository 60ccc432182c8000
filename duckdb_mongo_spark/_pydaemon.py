"""Python-worker daemon for ``get_spark()`` sessions.

Spark starts this module (``spark.python.daemon.module``) in place of
``pyspark.daemon``; it forks the Python workers that run every Arrow/
pandas kernel, UDF and Python DataSource read. It differs from the stock
daemon in one thing: zip archives on ``sys.path`` are re-read only when
they changed.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory. A worker holds ~16 of
them over ``pyspark.zip``, the py4j zip and the spark-core jar that
Spark puts on the worker ``PYTHONPATH``: ~27k zip entries, ~250 ms of a
one-task job on a 4-vCPU host, paid before the task reads a row. The
importer installed here stats the archive instead and re-reads it only
when its ``(st_size, st_mtime_ns)`` moved. CPython 3.13 made the stock
call lazy, so there the hook is not installed.

Importing the package first (``python -m`` does) also leaves numpy and
``pyspark.sql`` loaded in the daemon, so forked workers start warm.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_size, st_mtime_ns) of the directory held for it in
# zipimport's shared cache; taken BEFORE the read, so an archive that
# changes mid-read reads again at the next invalidation
_stamps: dict[str, tuple[int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


class StampedZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose ``invalidate_caches()`` re-reads the archive
    directory only when the archive file changed."""

    def __init__(self, path):
        super().__init__(path)
        # a directory cached before this class was installed carries no
        # stamp: read it once more so the stamp describes what is held
        self.invalidate_caches()

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        if key is not None and _stamps.get(self.archive) == key:
            # unchanged, or already re-read by a sibling importer (one per
            # package prefix of the same archive): share that directory
            self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
            return
        super().invalidate_caches()
        _stamps[self.archive] = key


def install() -> None:
    """Swap ``zipimport.zipimporter`` in ``sys.path_hooks`` for
    :class:`StampedZipImporter` and drop the importers already cached, so
    every archive on ``sys.path`` is served by the stamped class."""
    sys.path_hooks[:] = [StampedZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    sys.path_importer_cache.clear()


if __name__ == "__main__":
    # import the class under its package name, not as ``__main__``
    from duckdb_mongo_spark import _pydaemon

    if sys.version_info < (3, 13):
        _pydaemon.install()
    # pyspark.daemon picks the worker module from sys.argv[1] at import
    # (pyspark.worker, or the DataSource/UDTF workers Spark asks for)
    from pyspark.daemon import manager

    manager()
