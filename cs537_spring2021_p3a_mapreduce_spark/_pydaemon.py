"""Python worker daemon that skips the per-task zip re-read.

``pyspark.worker_util.setup_spark_files`` ends every task with
``importlib.invalidate_caches()``. On Python 3.11 that re-reads the
central directory of every zip importer in ``sys.path_importer_cache``
(pyspark.zip, py4j, the spark-core jar: 16 of them on a local
session): 140-230 ms of CPU per task on a 4-vCPU box, while a no-op
task's own function takes none. ``session._SCALE_CONFS`` names this
module as ``spark.python.daemon.module``; it gives ``worker_util`` an
``importlib`` whose ``invalidate_caches()`` leaves cached zip
importers alone, then runs the stock daemon, whose forked workers
inherit it.

Why that is safe: a zip already in the cache is never rewritten in
place (``spark.files.overwrite`` is false), a newly added include has
no cache entry yet and still gets a fresh importer, and every other
finder is still invalidated.

Workers import this module by name, so the package must be importable
on them, as it already must be for closures defined in package
modules (pickled by reference).
"""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipimport

from pyspark import worker_util

if not isinstance(getattr(worker_util, "importlib", None), types.ModuleType):
    raise ImportError(
        "pyspark.worker_util no longer imports importlib; "
        "remove spark.python.daemon.module from session._SCALE_CONFS"
    )


def _invalidate_caches() -> None:
    cache = sys.path_importer_cache
    # relative entries are dropped by the real call, as before
    zips = {
        k: f
        for k, f in cache.items()
        if isinstance(f, zipimport.zipimporter) and os.path.isabs(k)
    }
    for k in zips:
        del cache[k]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(zips)


class _Importlib(types.ModuleType):
    """``importlib`` with the zip-sparing ``invalidate_caches``."""

    invalidate_caches = staticmethod(_invalidate_caches)

    def __getattr__(self, name: str):
        return getattr(importlib, name)


worker_util.importlib = _Importlib("importlib")

if __name__ == "__main__":
    from pyspark import daemon

    daemon.manager()
