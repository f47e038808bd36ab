"""SparkSession factory with engine-appropriate defaults.

Local testing runs ``local[N]``; the same settings are what we would set on a
real cluster (AQE on for runtime re-planning/skew handling, Arrow on for
pandas-UDF batches, non-ANSI arithmetic for pandas-parity null-on-error
division semantics the reference engine assumes).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "bid_evaluation_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # driver testdata writes events.ts as TIMESTAMP(NANOS); read as long
        # and convert in sources.io.load_table (Spark has no nanos timestamps)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # static conf (cannot be set at runtime): keep \r progress frames
        # out of stdout, where they would interleave with printed results
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()
