"""SparkSession helper tuned for the engine.

Defaults chosen for scale (SURVEY.md §4): AQE on (runtime re-planning,
skew-join handling, partition coalescing), Arrow on (fast pandas interchange
for the driver-side planning probes and Pandas-UDF fallbacks), and a
shuffle-partition count sized by the caller (tests use 32 = local cores).
Two more make a warm session pay each compile and import cost once: a
generated-class cache that holds a pass's working set, and a Python-worker
daemon that re-reads only the zip archives that changed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "openpolicedata_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    On a real cluster, pass ``master=None`` and let spark-submit decide;
    locally we default to ``local[N]`` with N from $SPARK_GRAFT_CPUS.
    """
    # Executor python workers must be able to import this package (custom
    # DataSource readers / pandas UDFs are pickled by reference). Local
    # workers inherit the JVM's env, so extend PYTHONPATH before launch.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    py_path = os.environ.get("PYTHONPATH", "")
    if pkg_root not in py_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + py_path if py_path else ""))

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for pandas interchange (planning samples, pandas UDFs).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Catalyst filter pushdown into our portal Python Data Sources.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Local-mode memory headroom; harmless on a cluster (overridden).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (JVM-wide, LRU; Spark's default is 100).
        # corpus_pipeline alone compiles ~97 classes per pass, so at 100
        # every warm pass recompiled 22-58 of them; at 1,000 the first
        # timed pass compiles 0-4 and later ones 0. Retained classes stay
        # loaded: see SCALE.md for the measured memory per class.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Python workers skip re-reading unchanged zip archives on every
        # task (0.14-0.30 s per call before CPython 3.13): worker_daemon.py.
        .config("spark.python.daemon.module",
                "openpolicedata_spark.worker_daemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
