"""Spark's Python worker daemon, with zip-archive re-reads gated on a stat.

A reused worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). Before CPython 3.13
(gh-103200), ``zipimporter.invalidate_caches`` re-reads the archive's whole
central directory at once, and Spark puts ``pyspark.zip``, the py4j zip and
the spark-core jar first on the worker ``PYTHONPATH``: a warm worker holds
about 16 such importers and spent 140-240 ms of each task re-reading them.

Here each importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the stamp of its last read, so a
rewritten archive (``addPyFile``, SparkFiles) is still picked up; a failed
stat falls through to the eager re-read. ``session.get_spark`` makes this
module Spark's ``spark.python.daemon.module``, and every forked worker
inherits the patch. Spark starts it as ``python -m <module> pyspark.worker``;
``pyspark.daemon`` reads the worker module from ``sys.argv[1]``.
"""

from __future__ import annotations

import os
import zipimport

_eager = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _eager(self)
    self._stamp = stamp


def install() -> bool:
    """Gate ``zipimporter.invalidate_caches`` on the archive's stat, unless
    the interpreter's zipimporter already re-reads lazily. True if
    installed."""
    if hasattr(zipimport.zipimporter, "_get_files"):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
