"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting covers the
  long tail of skew that our explicit salting (operators/fuzzy_join.py,
  operators/spatial.py) doesn't pre-empt.
- Arrow on: every pandas UDF crosses the JVM<->Python boundary in columnar batches.
- UTC session timezone: parity with the DuckDB oracle (naive-UTC timestamps).
- shuffle partitions default to cores locally; on a real cluster this should be
  ~2-3x total executor cores, or left to AQE with a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "mass-georeferencing-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # a driver launched by spark-submit attaches to the submitting JVM
    # (PYSPARK_GATEWAY_PORT), whose --master stands unless one is passed here
    if master is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = SparkSession.builder if master is None else SparkSession.builder.master(master)
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
