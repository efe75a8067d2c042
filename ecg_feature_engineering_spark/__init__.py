"""ecg_feature_engineering_spark — a PySpark-native point-in-time feature-engineering engine.

A from-scratch, Spark-first re-expression of the query & data-processing
capabilities of the reference repo (hhc1997/ECG-Feature-Engineering, a serial
per-record CPython/numpy pipeline): as-of joins, lag/lead windows, backfill,
sessionization, rolling statistics, per-entity feature families, and
vectorized Arrow kernels over binary image payloads.

Everything here is built on public Apache Spark APIs (DataFrame/SQL, Window,
pandas UDFs) plus numpy/pandas/pyarrow. No code is copied from the reference;
file:line citations in docstrings point at the reference *semantics* being
re-expressed.
"""

import os
import sys


def _stat_keyed_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its ``(st_mtime_ns, st_size)`` changed since that importer last read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). Before 3.13 each
    zipimporter then re-parses its archive's whole central directory in
    pure Python, and a warm worker holds about 20 of them on pyspark.zip,
    the spark-core jar, py4j and the engine zip: ~27k entries and
    0.25-0.5 s before every task's first row. Run at package import, so
    every worker that unpickles an engine function has it; 3.13's
    ``invalidate_caches`` only drops the cached directory."""
    import zipimport

    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "stat_keyed", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is None or key != self.__dict__.get("_stat_key"):
            reread(self)
            self._stat_key = key

    invalidate_caches.stat_keyed = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_keyed_zip_invalidation()

from ecg_feature_engineering_spark.session import get_spark  # noqa: E402

__all__ = ["get_spark"]
__version__ = "0.1.0"
