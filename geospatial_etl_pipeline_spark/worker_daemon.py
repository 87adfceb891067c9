"""Python worker daemon: ``pyspark.daemon`` minus the per-task zip re-read.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark starts it (``python -m geospatial_etl_pipeline_spark.worker_daemon``)
instead of ``pyspark.daemon``. It forks the same workers; the only change
is how ``importlib.invalidate_caches()`` treats zip archives.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On Python 3.11 that calls
``zipimporter.invalidate_caches`` on every zipimporter in
``sys.path_importer_cache``, and each call re-reads its archive's central
directory. A worker holds about 16 importers over ``pyspark.zip`` (one per
subpackage), so every task re-parses ~27k directory entries 16 times:
most of the 100-250 ms a short Python task spends before its UDF starts.

Here an archive's directory is re-read only when the archive changed: the
last read is stamped with the archive's (path, mtime, size), and an
importer whose archive still has that stamp adopts the directory already
read instead of reading it again. A changed, replaced or vanished archive
is re-read exactly as before, so these are still ``invalidate_caches``
semantics. The patch is installed in the daemon process before it forks,
so it covers every Python task of the session, including RDD closures
that never import this package.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (mtime_ns, size) of the read now in _zip_directory_cache
_read_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    archive = self.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None and _read_stamps.get(archive) == stamp:
        self._files = cached
        return
    # stat before the read: if the archive changes in between, the stamp
    # is older than the read and the next call reads again
    _reread(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp
    else:
        _read_stamps.pop(archive, None)


if __name__ == "__main__":
    import importlib

    # pyspark.daemon reads the worker module from sys.argv at import
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the archives already open
    daemon.manager()
