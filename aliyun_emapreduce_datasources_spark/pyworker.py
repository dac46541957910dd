"""PySpark worker daemon for this package's sessions.

``session.get_session`` sets ``spark.python.daemon.module`` to this
module, so every Python worker Spark forks (data-source readers and
writers, ``foreachPartition``, pandas/Arrow UDFs) inherits the guard
below.

At the start of every task ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``. On CPython 3.11 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's whole central directory, eagerly. A worker holds one
importer per pyspark sub-package imported from ``pyspark.zip`` (16 in
a ``mapInArrow`` worker), so each task re-parsed the same unchanged
1,328-entry archive about 16 times: 0.22-0.30 s before any work.

The guarded ``invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the one seen at the last read,
or when the archive has left ``zipimport._zip_directory_cache``. An
archive rewritten or added by ``addPyFile`` is still re-read.

Imports stay minimal (``os``, ``zipimport``, ``pyspark.daemon``) so
the daemon starts as fast as PySpark's own.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive path -> (st_mtime_ns, st_size) at its last read


def _stamp(archive):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self):
    """Re-read the archive's directory only if the archive changed."""
    cached = zipimport._zip_directory_cache.get(self.archive)
    # stat BEFORE reading: a write racing the read leaves a stale
    # stamp behind, so the next call re-reads instead of skipping
    stamp = _stamp(self.archive)
    if cached is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = cached
        return
    _reread(self)
    _stamps[self.archive] = stamp


def install():
    """Guard every ``zipimporter``, then read each archive imported
    from so far once, so processes forked later start with its stamp
    and skip even their first re-read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        zipimport.zipimporter(archive).invalidate_caches()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; install the guard
    # from the module under its package name, which is what a worker
    # sees as the patched method's ``__module__``
    from aliyun_emapreduce_datasources_spark.pyworker import install as _install
    from pyspark import daemon

    _install()
    daemon.manager()
