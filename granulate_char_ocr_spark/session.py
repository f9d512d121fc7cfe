"""SparkSession factory with the engine's tuned configuration.

Settings chosen for the 100 TB posture (values are local-mode defaults; on a
real cluster shuffle partitions and maxPartitionBytes scale with executors):

* AQE on (runtime coalesce + skew-join splitting),
* Arrow transport on for the pandas/mapInPandas kernels, with a bounded
  records-per-batch so a batch of pixel rows stays well under Python worker
  memory (one media row ≈ 64·width bytes — SURVEY.md §7 R4),
* UTC session timezone so timestamp semantics match the DuckDB oracle,
* Python workers forked from ``worker_daemon`` (``WORKER_DAEMON_CONF``), which
  stops every task from re-reading pyspark.zip and the spark-core jar,
* ``spark.hadoop.fs.file.impl`` = ``LOCAL_FS_CLASS``, with its jar on
  ``spark.driver.extraClassPath`` (``local_fs_conf``): without libhadoop the
  stock ``file://`` FileSystem forks a ``chmod`` for every directory, file
  and ``.crc`` it creates, ~3 forks per output bucket. The jar is compiled
  once per source hash into ``dist/``; where ``javac`` is missing the session
  keeps the stock FileSystem and logs one warning.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile

from pyspark.sql import SparkSession

# Apply to every session that runs the engine's Python stages, including one
# built by spark-submit; the workers must be able to import the package.
WORKER_DAEMON_CONF = {
    "spark.python.daemon.module": "granulate_char_ocr_spark.worker_daemon",
}
# the directory (or zip) this package is imported from, for local workers
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a LocalFileSystem whose permission calls stay in the JVM
LOCAL_FS_CLASS = "granulate.hadoop.InProcessLocalFileSystem"
_LOCAL_FS_SOURCE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "resources",
    "InProcessLocalFileSystem.java",
)
_DIST_DIR = os.path.join(PACKAGE_PARENT, "dist")
_LOCAL_FS_JAR_PREFIX = "gcos-localfs-"

log = logging.getLogger(__name__)


@functools.cache
def local_fs_jar() -> str | None:
    """``dist/gcos-localfs-<source hash>.jar``, compiled with the JDK's
    ``javac`` and ``jar`` when no jar of this source exists yet (older ones
    are deleted). None, with one warning, where the JDK tools or the source
    (a ``--py-files`` zip carries none) are missing or the compile fails."""
    try:
        with open(_LOCAL_FS_SOURCE, "rb") as f:
            key = hashlib.md5(f.read()).hexdigest()[:10]
    except OSError:
        log.warning("no %s source: keeping Hadoop's file:// FileSystem",
                    LOCAL_FS_CLASS)
        return None
    jar = os.path.join(_DIST_DIR, f"{_LOCAL_FS_JAR_PREFIX}{key}.jar")
    if os.path.exists(jar):
        return jar
    javac, jar_tool = shutil.which("javac"), shutil.which("jar")
    if javac is None or jar_tool is None:
        log.warning("no javac/jar on PATH: keeping Hadoop's file:// "
                    "FileSystem, which forks a chmod per file it writes")
        return None
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    classpath = glob.glob(os.path.join(jars, "hadoop-client-api-*.jar"))
    os.makedirs(_DIST_DIR, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=_DIST_DIR) as tmp:
        part = os.path.join(tmp, "fs.jar")
        try:
            subprocess.run(
                [javac, "-nowarn", "-d", tmp,
                 "-cp", os.pathsep.join(classpath) or os.path.join(jars, "*"),
                 _LOCAL_FS_SOURCE],
                check=True, capture_output=True, text=True,
            )
            subprocess.run(
                [jar_tool, "cf", part, "-C", tmp, "granulate"],
                check=True, capture_output=True, text=True,
            )
        except subprocess.CalledProcessError as e:
            log.warning("building %s failed, keeping Hadoop's file:// "
                        "FileSystem:\n%s", LOCAL_FS_CLASS, e.stderr)
            return None
        os.replace(part, jar)
    for old in glob.glob(os.path.join(_DIST_DIR, f"{_LOCAL_FS_JAR_PREFIX}*.jar")):
        if old != jar:
            try:
                os.unlink(old)
            except OSError:
                pass
    return jar


def local_fs_conf() -> dict[str, str]:
    """The conf that makes ``file://`` paths use ``LOCAL_FS_CLASS``, or {}
    without its jar, or when this process's JVM is already running without
    the jar on its classpath (a ``fs.file.impl`` it cannot load would fail
    every local read and write)."""
    jar = local_fs_jar()
    if jar is None:
        return {}
    from py4j.protocol import Py4JJavaError
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is not None:
        try:
            jvm.java.lang.Class.forName(LOCAL_FS_CLASS)
        except Py4JJavaError:  # ClassNotFoundException
            return {}
    return {
        "spark.driver.extraClassPath": jar,
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
    }


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
        .config(map=local_fs_conf())
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
