"""The session's generated-class cache holds a query mix.

Spark caches compiled whole-stage and expression classes by their source
(``spark.sql.codegen.cache.maxEntries``, a static conf, 100 by default).
One pass of the analytics mix compiles more classes than that, so at the
default each query's classes are evicted before it runs again and every
repeat pays Janino compilation and JIT warm-up again. ``get_spark`` sizes
the cache so a repeat of the first query compiles nothing new.
"""

from __future__ import annotations

from milvus_cdc_spark import suite


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_query_mix_fits_codegen_cache(spark, sf_dir):
    def run(name):
        before = _compiles(spark)
        suite.QUERIES[name].fn(spark, sf_dir).toPandas()
        spark.catalog.clearCache()
        return _compiles(spark) - before

    for name in ("q1_pricing_summary", "bm25_topk", "kmeans_silhouette"):
        run(name)
    assert run("q1_pricing_summary") == 0
