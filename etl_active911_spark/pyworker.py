"""Python worker daemon that reads each import archive once, not per task.

Every task's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 that makes each
``zipimporter`` re-read its archive's central directory: a worker holds
16 importers over the 3.5 MB ``pyspark.zip``, 0.13-0.23 s per task on a
4-core host (CPython 3.12 made it lazy). Here an importer re-reads only
when the archive's ``(st_mtime_ns, st_size, st_ino)`` has changed since
it last read it, so a rewritten archive is still picked up.
``session.get_spark`` selects this module as ``spark.python.daemon.module``
for a local master once a probe shows a worker can find it.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    sig = _signature(self.archive)
    if sig is None or sig != getattr(self, "_read_signature", None):
        _stock_invalidate(self)
        self._read_signature = sig


def record_signatures() -> None:
    """Record the signature of every archive this process's importers
    have read, without re-reading it. The stock method gives each
    importer its own copy of the directory: a stock worker holds 16
    copies of pyspark.zip's after its first task (60-62 MiB RSS per
    worker on a 4-core host, 48-49 MiB with this daemon)."""
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer._read_signature = _signature(importer.archive)


zipimport.zipimporter.invalidate_caches = invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    # The forked workers inherit the signatures.
    record_signatures()
    manager()
