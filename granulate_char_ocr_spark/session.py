"""SparkSession factory with the engine's tuned configuration.

Settings chosen for the 100 TB posture (values are local-mode defaults; on a
real cluster shuffle partitions and maxPartitionBytes scale with executors):

* AQE on (runtime coalesce + skew-join splitting),
* Arrow transport on for the pandas/mapInPandas kernels, with a bounded
  records-per-batch so a batch of pixel rows stays well under Python worker
  memory (one media row ≈ 64·width bytes — SURVEY.md §7 R4),
* UTC session timezone so timestamp semantics match the DuckDB oracle,
* Python workers forked from ``worker_daemon`` (``WORKER_DAEMON_CONF``), which
  stops every task from re-reading pyspark.zip and the spark-core jar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Apply to every session that runs the engine's Python stages, including one
# built by spark-submit; the workers must be able to import the package.
WORKER_DAEMON_CONF = {
    "spark.python.daemon.module": "granulate_char_ocr_spark.worker_daemon",
}
# the directory (or zip) this package is imported from, for local workers
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def submitted_worker_daemon_conf() -> dict[str, str]:
    """``WORKER_DAEMON_CONF`` minus every key the launching spark-submit
    already sets (``--conf`` or spark-defaults.conf), so a submitted daemon
    module wins over the package's."""
    from pyspark import SparkConf, SparkContext

    SparkContext._ensure_initialized()  # joins spark-submit's JVM, or starts one
    submitted = SparkConf()  # loads that JVM's spark.* properties
    return {k: v for k, v in WORKER_DAEMON_CONF.items() if not submitted.contains(k)}


def spark_cpus() -> int:
    """Task slots for local mode: ``SPARK_GRAFT_CPUS``, else the cores this
    process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return len(os.sched_getaffinity(0)) if cpus == "*" else int(cpus)


def get_spark(
    app_name: str = "granulate-char-ocr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = spark_cpus()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(map=WORKER_DAEMON_CONF)
        # workers start with the JVM's cwd; let them import the package (and
        # the daemon) from wherever this driver does
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level join pruning: build a Bloom filter on the small
        # side and push it into the big side's scan — at 100 TB this skips
        # most of a fact scan when the dim filter is selective
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # pixel rows are ~60 KB each; 256/batch keeps an Arrow batch ≈ 15 MB
        # so 32 concurrent Python workers stay far from memory pressure
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: the driver JVM is also the executor; size the heap for
        # 16-32 concurrent pixel-bearing Arrow batches (box has 128 GiB)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # static conf: needed for bucketed saveAsTable in local/test runs;
        # real deployments override via spark-submit
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/gcos_spark_warehouse"),
        )
        .getOrCreate()
    )
