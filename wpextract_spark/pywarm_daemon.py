"""PySpark worker daemon that pre-imports the heavy Python stack.

Stock ``pyspark.daemon`` forks a fresh worker per task; the fork inherits the
daemon's interpreter state, but the daemon never imports pandas/pyarrow, so
every task pays ~0.2s re-importing them inside the worker before the first
Arrow batch flows. At 10^4-10^5 tasks per job that is hours of aggregate CPU
and the dominant per-task overhead for short tasks.

This module imports the full UDF dependency stack (pandas, pyarrow, the Arrow
serializers, and the extraction kernel) *before* delegating to the stock
daemon loop, so forked workers inherit warm imports for free. Enable with::

    spark.python.daemon.module=wpextract_spark.pywarm_daemon

(set by ``wpextract_spark.session.default_builder`` for local masters only).
In local mode the daemon inherits the driver's ``sys.path``. A separate
executor JVM starts the daemon before the ``--py-files`` zip is on its path,
so there the package must already be importable (installed on the nodes, or
the zip on ``spark.executorEnv.PYTHONPATH``). If the import fails, Spark does
not fall back to plain workers: every task fails and the job aborts.
"""

# Heavy third-party imports — the point of this module.
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyarrow.pandas_compat  # noqa: F401

# PySpark's Arrow/pandas UDF machinery.
import pyspark.sql.pandas.serializers  # noqa: F401
import pyspark.sql.pandas.types  # noqa: F401

# Our kernel (pure Python, cheap, but saves the per-task module init too).
import wpextract_spark.kernel.content  # noqa: F401
import wpextract_spark.kernel.translations  # noqa: F401
import wpextract_spark.operators.extract  # noqa: F401

# ---------------------------------------------------------------------------
# Per-task zip-TOC rescan fix (the dominant per-task overhead).
#
# pyspark's ``worker_util.setup_spark_files`` calls
# ``importlib.invalidate_caches()`` on EVERY task. On Python < 3.12,
# ``zipimport.zipimporter.invalidate_caches`` re-reads the entire zip central
# directory unconditionally, so every task pays a full TOC parse of
# pyspark.zip/py4j.zip per zip importer on sys.path (~100 ms/task measured
# here; profiled as ``zipimport._read_directory`` dominating worker time).
# CPython 3.12+ fixed this by checking the archive mtime first
# (https://github.com/python/cpython/commit/79ae019 — gh-87319); this is that
# same guard applied at runtime. Archives that DO change are still picked up,
# exactly as on 3.12.
# ---------------------------------------------------------------------------
import sys

if sys.version_info < (3, 12):
    import os
    import zipimport

    _orig_invalidate = zipimport.zipimporter.invalidate_caches

    def _invalidate_if_changed(self):
        try:
            mtime = os.path.getmtime(self.archive)
        except OSError:
            mtime = -1
        cached = getattr(self, "_wpx_archive_mtime", None)
        if cached is not None and cached == mtime:
            return
        self._wpx_archive_mtime = mtime
        if cached is not None:
            _orig_invalidate(self)

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

# Delegate to the stock daemon loop. ``pyspark.daemon`` resolves the worker
# module from ``sys.argv`` at import time, which is preserved here because the
# JVM launches this module the same way it launches the stock one.
import pyspark.daemon

if __name__ == "__main__":
    pyspark.daemon.manager()
