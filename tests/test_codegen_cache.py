"""Generated-class reuse: a repeated execution of the georeference and
corpus-prep dataflows compiles (almost) no Java class again.

The session factory sizes Spark's generated-class cache
(``spark.sql.codegen.cache.maxEntries``) above what both dataflows need
together. Under Spark's default of 100 entries the cache evicts each class
before its next use, and the second round compiles about as many classes as
the first (~183 of ~186 at sf0.001)."""

from mass_georeferencing_spark.plans.pipeline import georeference
from mass_georeferencing_spark.plans.training_prep import prepare_training_corpus

from conftest import SF_DIR

# a repeated round compiled 2-6 classes with the cache sized and ~183 under
# the default
MAX_REPEAT_COMPILES = 25


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _round(spark) -> int:
    """Compiles spent on one execution of each dataflow, outputs consumed."""
    before = _compiles(spark)
    for frames, outputs in (
        (georeference(spark, SF_DIR), ("kept", "means", "groups_final")),
        (prepare_training_corpus(spark, SF_DIR), ("corpus", "dropped_buckets")),
    ):
        for name in outputs:
            frames[name].write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
    return _compiles(spark) - before


def test_repeated_dataflows_reuse_generated_classes(spark):
    first = _round(spark)
    second = _round(spark)
    assert second <= MAX_REPEAT_COMPILES, (first, second)
