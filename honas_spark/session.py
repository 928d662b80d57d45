"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Ship honas_spark to executors (the spark-submit --py-files analog).

    Python workers unpickle our pandas-UDF closures, which reference this
    package — on any real cluster (and even local mode launched from an
    unrelated cwd) the package must travel with the job."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        tempfile.gettempdir(), f"honas_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as z:
            for dirpath, _dirs, files in os.walk(pkg_dir):
                for fn in files:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        z.write(full, os.path.relpath(full, root))
    spark.sparkContext.addPyFile(zpath)


def get_spark(
    app: str = "honas_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or int(
        os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1
    )
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        # smaller splits than the 128m default: local[32] needs >=32
        # concurrent scan tasks on ~1 GB inputs to use every core
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # throughput collector for the driver JVM (in local mode also the
        # executor): with G1 and a few-GB heap, MB-sized sketch rows and
        # Tungsten pages are humongous old-gen allocations, and a cached
        # table near G1's marking threshold sends some runs into
        # back-to-back concurrent marking that adds up to half again to
        # their CPU time.
        # defaultJavaOptions is prepended to, not replaced by,
        # --driver-java-options / spark.driver.extraJavaOptions.
        .config("spark.driver.defaultJavaOptions", "-XX:+UseParallelGC")
        # shuffle spill to tmpfs: this box has one virtual disk shared by
        # all cores, which serializes shuffle I/O; a real cluster has
        # NVMe per executor.  RAM-backed local dirs remove the artifact.
        .config("spark.local.dir", os.environ.get(
            "SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    ship_package(spark)
    return spark
