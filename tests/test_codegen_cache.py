"""The engine's session keeps a whole cycle of generated classes.

Spark compiles each whole-stage-codegen plan and projection with
Janino and caches the class; at Spark's default bound of 100 entries
a cycle of more distinct plans than that evicts every class before
its next use. ``get_spark`` sizes the cache to the engine's working
set, so a second pass over a cycle of 150 distinct plans (about 300
classes) compiles nothing.
"""

from __future__ import annotations

from lakerunner_spark.session import CODEGEN_CACHE_MAX_ENTRIES

N_PLANS = 150


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cycle(spark) -> int:
    """Compiles over one pass of N_PLANS plans that differ only by the
    literals codegen inlines."""
    before = _compiles(spark)
    for k in range(N_PLANS):
        rows = spark.range(4).selectExpr(f"id * {k + 2} + {k + 3}").collect()
        assert [r[0] for r in rows] == [i * (k + 2) + k + 3 for i in range(4)]
    return _compiles(spark) - before


def test_session_reports_the_cache_bound(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_second_pass_over_a_plan_cycle_compiles_nothing(spark):
    first = _cycle(spark)
    assert first >= N_PLANS  # each plan is new to the JVM
    assert _cycle(spark) == 0
