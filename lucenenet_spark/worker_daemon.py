"""PySpark worker daemon with stamped zip-import caches.

Set as ``spark.python.daemon.module`` by :func:`lucenenet_spark.get_spark`.
Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and Python 3.11's
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory — once per zipimporter, 16 of them in a worker, over
``pyspark.zip``, the py4j zip and the spark-core jar. :func:`install`
makes that re-read conditional on the archive's ``(st_mtime_ns,
st_size)`` having changed since this importer last read it, so an
unchanged ``pyspark.zip`` costs one ``stat`` per importer while a
rewritten or newly added archive (``addPyFile``) is still re-read.
Directory (FileFinder) caches are left alone.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches`` (idempotent)."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stamped", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_lucenenet_stamp", None):
            # stat before the read: a write racing the read re-reads next time
            original(self)
            self._lucenenet_stamp = stamp

    invalidate_caches._stamped = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    import importlib

    install()
    # stamp every importer once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
