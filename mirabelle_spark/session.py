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
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
