"""Stamp-checked zip directory caches for PySpark Python workers.

Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
each ``zipimporter`` on ``sys.path`` re-read its archive's whole central
directory: ``pyspark.zip`` and its subpackage importers, py4j and the
Spark jar, ~27k entries and ~200 ms of CPU per task on a 4-core host,
before the task runs any code. ``install`` makes the re-read conditional:
an importer re-reads only when its archive's ``(st_mtime_ns, st_size)``
differs from the stamp taken at its last read. Python 3.13 made
``invalidate_caches`` lazy, so there ``install`` does nothing.

Every UDF this package ships imports a package module when its task
unpickles it, so each reused worker is patched after its first task.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per interpreter.

    Importers already cached are stamped as read: on a worker, this task's
    ``setup_spark_files`` re-read them just before it unpickled the UDF
    whose import runs this."""
    cls = zipimport.zipimporter
    if sys.version_info >= (3, 13) or hasattr(cls.invalidate_caches, "reread"):
        return
    reread = cls.invalidate_caches

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # before the read: a write during it shows next time
        if stamp is None or stamp != getattr(self, "_stamp", None):
            reread(self)
            self._stamp = stamp

    invalidate_caches.reread = reread
    cls.invalidate_caches = invalidate_caches
    for imp in list(sys.path_importer_cache.values()):
        if isinstance(imp, cls):
            imp._stamp = _stamp(imp.archive)
