"""The session's generated-code cache holds a whole flagship pass.

Spark compiles each whole-stage-codegen plan shape to a Java class with
Janino and keeps the class in a cache of spark.sql.codegen.cache.maxEntries
entries. One dedup_pipeline pass needs ~215 classes, more than Spark's
default of 100, so at the default every warm pass recompiled all of them.
session.get_spark sizes the cache so that a repeated pass compiles nothing.
"""

from intraarchivededuplicator_spark.engine.pipeline import dedup_pipeline
from intraarchivededuplicator_spark.fixtures.synth import gen_pages


def janino_compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, pages) -> int:
    before = janino_compiles(spark)
    out = dedup_pipeline(spark, pages)
    out["clusters"].count()
    out["pairs"].count()
    return janino_compiles(spark) - before


def test_repeated_pass_compiles_no_generated_code(spark):
    pages = spark.createDataFrame(gen_pages(60, seed=11).pages)
    _pass(spark, pages)
    assert _pass(spark, pages) == 0
