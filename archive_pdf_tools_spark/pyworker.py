"""Per-task hygiene for the bodies the engine runs in Spark Python workers.

Before every task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython 3.11 that calls
``zipimporter.invalidate_caches`` on every zip importer cached in
``sys.path_importer_cache``, and each call re-reads its archive's whole
central directory.  A worker that has imported the engine caches about
16 of them (``pyspark.zip`` and its subpackages, the ``spark-core`` jar,
the py4j zip), a fixed 0.2-0.3 s per task.

``trim_zip_import_cache`` drops those importers.  Modules already
imported keep their own loader, and a later import from the same archive
rebuilds its importer from ``zipimport._zip_directory_cache`` without
reading the archive.  Archives under the SparkFiles root (``--py-files``,
``addPyFile``) keep their importers: those can change between tasks,
which is what the invalidation is for.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

__all__ = ["trim_zip_import_cache", "python_task"]


def trim_zip_import_cache() -> int:
    """Drop cached zip importers of archives outside the SparkFiles root;
    returns how many were dropped.  A no-op outside a Spark Python worker
    (only the worker invalidates the import caches before each task)."""
    from pyspark import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return 0
    keep = os.path.join(SparkFiles.getRootDirectory(), "")
    dropped = 0
    for entry, finder in list(sys.path_importer_cache.items()):
        if (isinstance(finder, zipimport.zipimporter)
                and not finder.archive.startswith(keep)):
            del sys.path_importer_cache[entry]
            dropped += 1
    return dropped


def python_task(body):
    """Decorate a ``mapInPandas`` batch body so it trims the zip-import
    cache when it starts and when it ends: importers created while the
    task runs would otherwise be re-read before the next task.
    ``functools.wraps`` keeps a module-level body pickled by reference."""
    @functools.wraps(body)
    def task(batches):
        trim_zip_import_cache()
        try:
            yield from body(batches)
        finally:
            trim_zip_import_cache()
    return task
