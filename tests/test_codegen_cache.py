"""The session profile's generated-code cache holds the engine's working set.

Spark keeps 100 generated classes by default; one pass over the registry
generates thousands, so a repeated query used to find its classes evicted
and compiled them again. ``CodegenMetrics``' compilation histogram counts
cache misses only, so a re-run that compiles nothing found every class in
the cache.
"""

from __future__ import annotations

N_OTHER_PLANS = 150  # each compiles its own class: more than Spark's 100


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _query(spark):
    return (
        spark.range(1000)
        .selectExpr("id % 7 AS k", "id * 3 AS v")
        .groupBy("k")
        .agg({"v": "sum"})
        .collect()
    )


def test_codegen_cache_keeps_a_query_compiled_across_other_plans(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    first = sorted(_query(spark))
    mark = _compiles(spark)
    for i in range(1, N_OTHER_PLANS + 1):
        spark.range(10).selectExpr(f"id * {i} + {i}").collect()
    # the other plans did compile classes of their own ...
    assert _compiles(spark) - mark >= N_OTHER_PLANS
    mark = _compiles(spark)
    again = sorted(_query(spark))
    # ... yet the query found every one of its classes still cached
    assert _compiles(spark) == mark
    assert again == first
