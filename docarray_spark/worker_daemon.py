"""The engine's Python worker daemon (``spark.python.daemon.module``).

PySpark forks every Python worker from ``pyspark.daemon``, and a reused
worker runs ``pyspark.worker_util.setup_spark_files`` at the start of
every task. That calls ``importlib.invalidate_caches()``, which on
CPython 3.11/3.12 makes each ``zipimporter`` in ``sys.path_importer_cache``
re-read its archive's whole central directory: a worker holds about 16 of
them (over ``pyspark.zip``, the py4j zip and the ``spark-core`` jar), which
costs about 150 ms of CPU per task before the UDF runs. After the task
``pyspark.daemon`` runs ``gc.collect()`` over the worker's whole heap,
numpy, pyarrow and pandas included, about 50 ms more.

This module changes two things and then runs ``pyspark.daemon.manager()``:

1. On import, ``zipimporter.invalidate_caches`` re-reads an archive only
   when it is new to that importer, its ``(st_mtime_ns, st_size, st_ino)``
   changed since that importer's last read, or ``os.stat`` fails. An
   archive rewritten in place is re-read; ``FileFinder`` invalidation is
   untouched, so an archive shipped with ``addPyFile`` still imports.
2. Run as ``python -m``, it imports the modules every Arrow task needs,
   then ``gc.collect(); gc.freeze()``: forked workers inherit them
   imported, and the per-task collection no longer walks them.

``spark.python.worker.module`` cannot carry this: ``pyspark.daemon``
accepts a worker module only if its name starts with ``pyspark``.
"""

from __future__ import annotations

import gc
import importlib
import os
import weakref
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# per importer, not per path: several importers share one archive (one per
# package prefix), and each holds its own copy of the directory
_last_read: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
    except OSError:
        _last_read.pop(self, None)
        return _reread(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    if _last_read.get(self) != key:
        _reread(self)
        _last_read[self] = key


def serve() -> None:
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql.pandas.serializers  # noqa: F401
    import pyspark.worker  # noqa: F401

    import docarray_spark.functions.distance  # noqa: F401
    import docarray_spark.functions.vectors  # noqa: F401
    from pyspark.daemon import manager

    importlib.invalidate_caches()  # record every archive's stat once, here
    gc.collect()
    gc.freeze()
    manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; install the guard from
    # the module under its own name so it is defined once
    from docarray_spark.worker_daemon import serve

    serve()
else:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
