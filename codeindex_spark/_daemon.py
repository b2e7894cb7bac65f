"""Spark Python worker daemon that keeps zip import caches across tasks.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every ``zipimporter``
then re-reads its whole archive directory: pyspark.zip, the py4j zip, the
spark-core jar and one importer per imported pyspark subpackage. That is
most of a worker's CPU time between two small tasks. Here an importer
re-reads its archive only when the archive's ``(size, mtime_ns)`` differs
from its last read, so a new or changed archive (``addPyFile``) is still
read exactly as before. Forked workers inherit the patch.

Run as ``python -m codeindex_spark._daemon``; ``get_spark`` sets it as
``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # stamp the importers workers inherit
    manager()
