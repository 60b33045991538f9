"""Python worker daemon for local masters: ``pyspark.daemon`` whose zip
importers re-read an archive only when it changed.

Every Python-UDF task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and under CPython 3.11 each
cached ``zipimporter`` then re-reads its archive's whole central
directory: ``pyspark.zip`` and the 15 MB spark-core jar on the worker
path, about 77 ms a task. Here an importer re-reads only when the
archive's ``(st_size, st_mtime_ns)`` differs from the stamp it took at
its own last read. The stamp is per importer: each prefix importer
(``pyspark.zip/pyspark/sql/``, ...) holds its own ``_files``. Directory
finders are still invalidated on every task, so a file shipped with
``addPyFile``/``addFile`` stays importable. ``get_spark`` sets
``spark.python.daemon.module`` to this module.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Re-read ``self.archive`` unless it is unchanged since this
    importer last read it (a missing archive always re-reads)."""
    try:
        st = os.stat(self.archive)
        stamp = st.st_size, st.st_mtime_ns
    except OSError:
        stamp = None
    if stamp is None or stamp != self.__dict__.get("_stamp"):
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # stamp the importers the daemon holds, once, before it forks workers
    importlib.invalidate_caches()
    daemon.manager()
