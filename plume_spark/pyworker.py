"""Python worker daemon for local sessions: ``pyspark.daemon`` whose forked
workers do not re-read Spark's own archives on every task.

PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` once per task, and on Python 3.11 every
cached zip importer then re-reads its archive's whole directory in Python.
A worker holds about 16 of them over ``pyspark.zip`` (one per imported
subpackage), the py4j zip and the ``spark-core`` jar on its path: some 26k
entries and 100-250 ms per task (measured on a 4-core x86-64 host).  Those
archives were on the daemon's launch ``sys.path`` and every forked worker
already runs modules imported from them, so a re-read cannot make a changed
one consistent anyway; this daemon skips it.  Archives added later (``addPyFile``, ``--py-files``) keep the
re-read.  ``session.get_spark`` names this module in
``spark.python.daemon.module``; run as ``python -m plume_spark.pyworker``.
"""

from __future__ import annotations

import sys
import zipimport

_LAUNCH_PATH = frozenset(sys.path)


class _LaunchArchiveImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        if self.archive not in _LAUNCH_PATH:
            super().invalidate_caches()


def _install() -> None:
    sys.path_hooks[:] = [
        _LaunchArchiveImporter if h is zipimport.zipimporter else h for h in sys.path_hooks
    ]
    for imp in sys.path_importer_cache.values():
        if type(imp) is zipimport.zipimporter:
            imp.__class__ = _LaunchArchiveImporter


if __name__ == "__main__":
    _install()
    from pyspark import daemon

    daemon.manager()
