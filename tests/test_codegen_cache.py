"""Spark's cache of compiled generated classes holds the engine's working
set: a plan that runs again reuses its class instead of compiling it again.
With Spark's default 100-entry cache, the second cycle below recompiles
every plan."""

from __future__ import annotations

from gemini_data_wrangler_spark.session import CODEGEN_CACHE_MAX_ENTRIES

N_PLANS = 150  # more distinct plans than Spark's default cache holds


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_cap_is_set(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_MAX_ENTRIES)


def test_repeated_plans_reuse_their_generated_code(spark):
    def cycle() -> int:
        before = _compilations(spark)
        for i in range(N_PLANS):
            # The literals are inlined into the generated source, so every
            # i is its own single-stage class. Executing a new physical plan
            # generates its source and compiles it on the driver unless the
            # cache has it; no job has to run. (A plan executed before
            # returns its memoized RDD, so each cycle plans afresh.)
            df = spark.range(10).selectExpr(f"id + {i} AS x").filter(f"x > {i}")
            df._jdf.queryExecution().executedPlan().execute()
        return _compilations(spark) - before

    assert cycle() >= N_PLANS
    assert cycle() == 0
