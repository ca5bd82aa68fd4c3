"""SparkSession factory with the engine's scale-oriented defaults.

These settings encode the SURVEY.md §4 plan: AQE with skew-join splitting for
mega-site skew, Arrow transport for the pandas-UDF kernel with bounded batch
sizes (HTML payloads are large — an unbounded 10k-row Arrow batch of 200 KB
pages is 2 GB), and a shuffle-partition count sized for local testing that a
cluster deployment overrides via ``spark-submit --conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 512


def default_builder(app_name: str = "wpextract-spark", master: str | None = None):
    master = (
        master
        or os.environ.get("SPARK_MASTER")
        or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    )
    builder = SparkSession.builder.appName(app_name).master(master)
    if master == "local" or master.startswith("local["):
        # Pre-warming daemon: forked workers inherit pandas/pyarrow/kernel
        # imports, and its zipimport mtime guard removes the ~100ms/task
        # zip-TOC rescan that pyspark's per-task invalidate_caches() costs on
        # Python < 3.12 (see wpextract_spark/pywarm_daemon.py). Local masters
        # only: there the daemon inherits the driver's sys.path, while a
        # separate executor JVM (as on local-cluster) starts it before the
        # --py-files zip is on its path, and every task fails.
        builder = builder.config("spark.python.daemon.module", "wpextract_spark.pywarm_daemon")
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_CPUS", "32"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
    )


def get_session(app_name: str = "wpextract-spark", master: str | None = None) -> SparkSession:
    return default_builder(app_name, master).getOrCreate()
