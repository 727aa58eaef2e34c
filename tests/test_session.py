"""Session defaults: the generated-class cache holds a repeated working set."""

from __future__ import annotations

import random

N_QUERIES = 60


def _compiled(spark) -> int:
    """Classes Spark has compiled in this JVM. The histogram is updated
    only on a generated-class cache miss."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run(spark, salt: int) -> int:
    """Run N_QUERIES small aggregations and return how many classes they
    compiled. Literals are inlined into the generated code, so each
    (salt, k) pair yields classes no earlier query has compiled."""
    before = _compiled(spark)
    for k in range(N_QUERIES):
        (
            spark.range(0, 64, 1, 1)
            .selectExpr(f"id % {k + 2} AS g", f"id * {salt + k} AS v")
            .groupBy("g")
            .agg({"v": "sum"})
            .collect()
        )
    return _compiled(spark) - before


def test_codegen_cache_holds_repeated_queries(spark):
    """A working set larger than Spark's default 100-entry cache is
    compiled once: a second pass over the same queries compiles nothing."""
    salt = random.Random().randrange(10**6, 10**9)
    first = _run(spark, salt)
    assert first > 100
    assert _run(spark, salt) == 0
