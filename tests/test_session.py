"""Session settings that the engine's speed depends on."""

from __future__ import annotations

from simple_etl_pipeline_spark.plans.relational import q5_region_revenue
from simple_etl_pipeline_spark.plans.text import dedup_components


def test_codegen_cache_holds_the_working_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"


def test_repeated_queries_reuse_compiled_code(spark, sf_dir):
    """dedup_components and q5 at sf0.001 generate ~170 whole-stage
    classes, more than Spark's default cache of 100, so at the default
    the second run recompiled nearly all of them. AQE is off here
    because it picks join build sides from the order in which query
    stages finish, so a repeat can meet a plan variant (new code) not
    seen before; with fixed plans the repeat must compile nothing."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled_by_run() -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        spark.catalog.clearCache()
        for build in (dedup_components, q5_region_revenue):
            build(spark, sf_dir).collect()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = compiled_by_run()
        assert compiled_by_run() == 0, f"first run compiled {first}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
