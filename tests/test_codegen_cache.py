"""Spark's generated-code cache must hold the working set.

``get_spark`` sizes the cache (``spark.sql.codegen.cache.maxEntries``)
to 1000 classes. At Spark's default of 100, a workload that cycles
through more than 100 distinct classes evicts each one before it comes
round again, and Janino recompiles every class on every pass. The
test runs 60 distinct tiny queries (about two classes each, so more
than 100 classes) twice and counts compiles in ``CodegenMetrics``:
the second pass must compile nothing.
"""

from __future__ import annotations

N_QUERIES = 60


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark) -> None:
    for i in range(N_QUERIES):
        spark.range(8).selectExpr(f"id * {i + 2} AS v").where(f"v > {i}").collect()


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.sparkContext.getConf().get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_second_pass_compiles_nothing(spark):
    before = _compiles(spark)
    _run_pass(spark)
    first = _compiles(spark) - before
    # the pass must outgrow Spark's default cache, or the test proves nothing
    assert first > 100, first
    _run_pass(spark)
    assert _compiles(spark) - before - first == 0
