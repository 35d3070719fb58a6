"""SparkSession factory tuned for this engine.

Local test profile: single JVM, ``local[N]`` threads. The same
builder settings (AQE, shuffle partitions sized to cores, Arrow
enabled) are what we would ship on a real cluster; only
``master``/memory differ there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mirabelle_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    Defaults follow the guidance for local mode: shuffle partitions
    ≈ cores (not 200), AQE on so runtime stats re-plan joins and
    coalesce small shuffle partitions, Arrow on for any pandas
    interchange, UTC session TZ so results compare bit-for-bit with
    the DuckDB oracle.

    Python workers start through :mod:`mirabelle_spark.worker_daemon`
    (``spark.python.daemon.module``), which drops Spark's pyspark/py4j
    archives from the workers' path when the installed packages are
    the same versions, so no task re-reads a zip directory;
    ``extra_conf`` can name another daemon module.

    Streaming checkpoints (state-store deltas, offsets, commits and
    file-source logs) are written through Spark's
    ``FileSystemBasedCheckpointFileManager``. The default
    ``FileContextBasedCheckpointFileManager`` renames through
    ``FileContext``, which asks for the link status of every source
    and destination file and its ``.crc``; without ``libhadoop`` the
    local file system answers each ask by running ``readlink``: about
    90 processes per micro-batch of a 4-partition stream, 150-190 ms of
    its trigger on a 4-vCPU host. The FileSystem
    manager writes the same files (Spark's checksum layer still wraps
    it) and keeps the no-overwrite rename as exists-then-rename,
    which ``rename(2)`` makes atomic on a local disk. A deployment
    that keeps checkpoints on an object store should name the
    FileContext manager (or its store's own) in ``extra_conf``.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.python.daemon.module", "mirabelle_spark.worker_daemon")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
