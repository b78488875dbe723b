"""Python-worker daemon that re-reads a zip archive only when it changed.

Spark runs this module in place of ``pyspark.daemon`` (``get_spark`` sets
``spark.python.daemon.module``). pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
on every worker call, and on CPython < 3.13 each cached
``zipimport.zipimporter`` then re-reads its archive's whole directory: a
worker holds 16-17 of them over ``pyspark.zip`` (1,328 entries), the
spark-core jar (5,359) and the py4j zip, for 0.14–0.30 s per call.
CPython 3.13 made that re-read lazy, so there this module changes nothing.

Below 3.13, :func:`install` makes ``zipimporter.invalidate_caches``
re-read an archive only when its ``(st_mtime_ns, st_size)`` differs from
what that importer last read, or when the stat fails. A rewritten or
newly added archive (``SparkContext.addPyFile``) is still re-read, which
is what Spark's call is for.

Limit: Spark starts the data-source planner workers
(``create_data_source``, ``plan_data_source_read``,
``lookup_data_sources``) as ``python -m pyspark.daemon
pyspark.sql.worker.*`` whatever this setting says, so those calls still
pay the re-read.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport


def install() -> None:
    """Skip the re-read of unchanged archives in this process."""
    if sys.version_info >= (3, 13):
        return
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        # stamped before the read: a write during it changes the stamp
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    # by its package name, so the patch is this module's, not __main__'s
    from openpolicedata_spark import worker_daemon

    worker_daemon.install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
