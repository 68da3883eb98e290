"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the settings below are the ones that matter at
cluster scale too (AQE on, sensible shuffle partitioning, Arrow for the few
pandas-UDF paths).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(app_name: str = "siddhi-io-cdc-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions default to the core count — right-sized for local runs;
    on a real cluster AQE coalesces them anyway.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE",
                os.path.join(tempfile.gettempdir(), "spark-graft-warehouse"),
            ),
        )
    )
    return builder.getOrCreate()
