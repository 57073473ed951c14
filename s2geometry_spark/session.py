"""SparkSession factory with the engine's scale-oriented defaults.

Local mode here; on a real cluster the same confs ship via
``spark-submit --py-files s2geometry_spark.zip`` (SURVEY.md §7 Stage 6).

``get_spark`` always sets two confs for the Python workers:

- ``spark.python.daemon.module`` runs ``worker_daemon`` in place of
  ``pyspark.daemon``. Before 3.13 each task otherwise re-parses the
  central directory of every zip on the worker path (pyspark.zip, the
  spark-core jar, py4j: about 0.13 CPU-s per task), and each new worker
  imports numpy, pandas and pyarrow itself.
- ``spark.executorEnv.PYTHONPATH`` is the directory (or, under
  ``--py-files``, the zip) holding this package. The daemon starts
  before any task ships the ``--py-files`` to the worker, so without it
  the daemon module is not importable and every UDF fails with
  "EOFException occurred while reading the port number from
  s2geometry_spark.worker_daemon's stdout".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_cores() -> int:
    """SPARK_GRAFT_CPUS, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))


def default_driver_memory() -> str:
    """SPARK_DRIVER_MEMORY, else half of MemTotal (the rest is for the
    Python workers and page cache), capped at 16g."""
    if "SPARK_DRIVER_MEMORY" in os.environ:
        return os.environ["SPARK_DRIVER_MEMORY"]
    with open("/proc/meminfo") as f:  # first line: MemTotal: <n> kB
        kib = int(f.readline().split()[1])
    return f"{min(kib // 2048, 16 * 1024)}m"


def get_spark(app_name: str = "s2geometry-spark", cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 32)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # Arrow batching for pandas UDFs — the only JVM↔Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Batches of (lat,lng)-width rows; 64k keeps Arrow buffers small
        # even when upstream rows carry wide text columns (SURVEY §4.4).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: runtime coalescing and the engine's one skew mechanism
        # (B20): the skew-join split for shuffle joins, the rebalance
        # split for tile writes (operators/tiles.py).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.python.daemon.module", "s2geometry_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # Engine arithmetic is deliberately overflow-free; keep ANSI on
        # (Spark 4 default) so real errors surface.
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
