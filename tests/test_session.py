"""Session defaults that only show across many queries."""

from __future__ import annotations

from emma_spark.session import CODEGEN_CACHE_ENTRIES


def _compiles(spark) -> int:
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(cm.METRIC_COMPILATION_TIME().getCount())


def test_codegen_cache_outlives_a_working_set_above_spark_default(spark):
    """More distinct plans than Spark's default 100-entry class cache
    holds: the second round must reuse every class of the first instead
    of recompiling the ones the LRU evicted."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )

    def run_round():
        # distinct literals give distinct generated classes; toRdd builds
        # the physical plan, which compiles its whole-stage class, without
        # paying for a job per plan
        for k in range(150):
            df = spark.range(8).selectExpr(f"id * {k} + {k} AS x")
            df._jdf.queryExecution().toRdd()

    before = _compiles(spark)
    run_round()
    first = _compiles(spark) - before
    assert first > 100  # the working set really exceeds the old default
    before = _compiles(spark)
    run_round()
    assert _compiles(spark) - before == 0
