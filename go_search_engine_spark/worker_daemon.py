"""Python-worker daemon: the stock ``pyspark.daemon`` with stamped zip
invalidation (set as ``spark.python.daemon.module`` by ``session.get_spark``).

Every Python-UDF task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12
(gh-103200) that makes every zipimporter re-read its whole archive
directory in pure Python -- pyspark.zip, the py4j zip and the spark-core
jar sit on the worker's ``sys.path``, one importer per imported package
directory -- a fixed ~150-220 ms per task on a 4-core host. Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` differs from
the stamp of its last read; otherwise the importer takes that read's
directory. Forked workers inherit the wrapper; on 3.12+ this runs the
stock daemon.
"""

import os
import sys
import zipimport

# run as ``python -m``, this file is ``__main__``: the wrapper is installed
# by importing it under its package name below, which is what the workers
# see as ``zipimporter.invalidate_caches.__module__``
if sys.version_info < (3, 12) and __name__ != "__main__":
    _stock_read = zipimport._read_directory
    _stock_invalidate = zipimport.zipimporter.invalidate_caches
    _reads = {}  # archive -> (stamp, files dict) of its last read

    def _stamp(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _read_directory(archive):
        stamp = _stamp(archive)
        files = _stock_read(archive)
        _reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        stamp, files = _reads.get(self.archive, (None, None))
        if stamp is None or stamp != _stamp(self.archive):
            _stock_invalidate(self)
        else:  # unchanged since its last read: share that directory
            self._files = files

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    import importlib

    import go_search_engine_spark.worker_daemon  # noqa: F401
    from pyspark.daemon import manager

    if sys.version_info < (3, 12):  # stamp importers made before the wrapper
        importlib.invalidate_caches()
    manager()
