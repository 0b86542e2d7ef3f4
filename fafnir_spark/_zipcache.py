"""Skip re-reading unchanged zip archives on importlib.invalidate_caches().

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). On
CPython 3.11 ``zipimport.zipimporter.invalidate_caches`` then re-reads the
whole central directory of its archive (``zipimport.py`` lines 329-336;
3.12 made it lazy), and a worker holds one zipimporter per package
directory it imported from ``pyspark.zip``: a full read of a 1,328-entry
zip directory per importer per task, ~210 ms of a ~255 ms trivial pandas
UDF task on a 4-vCPU host (``scripts/udf_task_cost.py``).

``install`` makes an importer re-read its archive only when the archive's
(mtime_ns, size) changed since that importer last read it, so an
``--py-files`` or ``addPyFile`` archive rewritten between tasks is still
picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_fafnir_stamp", None):
        _reread(self)
        self._fafnir_stamp = stamp


def install() -> None:
    """Patch zipimporter and stamp the importers that exist now, so the
    next task's invalidation is already cheap."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            finder._fafnir_stamp = _stamp(finder.archive)
