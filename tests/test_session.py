"""Session defaults that change how Spark runs, pinned by behaviour."""

import pyspark.sql.functions as F


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (each is one generated class)."""
    m = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return m.METRIC_COMPILATION_TIME().getCount()


def test_repeated_queries_reuse_generated_code(spark):
    """A working set of ~150 distinct whole-stage-codegen queries, more
    than Spark's default cache of 100 classes, run twice in the same
    order: the second round must find every class in the cache. With
    the default LRU it misses every one and compiles ~150 again."""
    queries = [spark.range(4).select((F.col("id") * k + j).alias("v"))
               for k in range(2, 17) for j in range(10)]
    want = [[(i * k + j,) for i in range(4)]
            for k in range(2, 17) for j in range(10)]
    for q, w in zip(queries, want):             # round 1: cold
        assert [tuple(r) for r in q.collect()] == w
    before = _compiles(spark)
    for q, w in zip(queries, want):             # round 2: same order
        assert [tuple(r) for r in q.collect()] == w
    assert _compiles(spark) - before <= 5
