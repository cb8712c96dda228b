"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB target):
- AQE on: runtime coalescing of shuffle partitions + skew-join splitting is the
  only skew handling; the joins carry no explicit salt.
- Arrow on: ``toPandas`` and ``createDataFrame`` from pandas move columnar
  batches. The UDF boundaries are Arrow whatever this flag says: the fuzzy
  scoring is ``mapInArrow``, the remaining pandas UDFs are Arrow-batched, and
  the georeference text normalization never leaves the JVM.
- UTC session timezone: parity with the DuckDB oracle (naive-UTC timestamps).
- shuffle partitions default to cores locally; on a real cluster this should be
  ~2-3x total executor cores, or left to AQE with a high initial value.
- Generated-class cache of 1000 entries: Spark's default of 100 is smaller than
  the set of classes a dataflow reuses, so the LRU cache evicts each class
  before its next use and every execution compiles all of them again.
  Measured with the ``CodegenMetrics.METRIC_COMPILATION_TIME`` count, one
  session per workload: a steady ``perfbench`` ``georef`` execution compiled
  104-120 classes and a ``corpus_prep`` one 157-158 under the default, and
  0-12 with 1000; ``spatial`` (~53 classes) compiled 0 under either. At
  sf0.001, ``georeference`` then ``prepare_training_corpus`` in one session
  compile ~183 classes per repeated round under the default and 2-6 with 1000.
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
        # static conf: sized from the class counts in the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
