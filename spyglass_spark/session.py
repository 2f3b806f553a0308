"""SparkSession helpers tuned for this engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter at cluster scale too: AQE (runtime re-plan + skew-join), Arrow for
all pandas UDF exchange, and shuffle partitions sized to the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the spyglass_spark package
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "spyglass-spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # Python workers import this package (UDF closures reference its
        # functions): put its parent directory on their path, whatever
        # the caller's working directory — PySpark merges it with its own
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
        .getOrCreate()
    )
