"""Each generated class compiles once per session.

Spark keeps compiled whole-stage-codegen classes in one JVM-wide LRU keyed
on their generated source, sized by the static conf
`spark.sql.codegen.cache.maxEntries` (Spark's default: 100).  The engine's
working sets are larger (the perfbench etl mix generates 181 distinct
classes per pass at sf0.01, the whole registry 2,316), so `get_spark` sizes
the cache to hold them; at the default every pass recompiled them all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

#: distinct plans per pass: above Spark's default cache of 100 entries
N_PLANS = 150
#: literal offset no other code in the engine or the suite generates
OFFSET = 7_340_000_000_017


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark) -> int:
    """Run N_PLANS whole-stage plans whose generated code differs only in
    a long literal; the aggregate reads the literal, so pruning keeps it."""
    before = _compiles(spark)
    for i in range(N_PLANS):
        k = OFFSET + 1_000 * i
        row = spark.range(4).agg(F.sum(F.col("id") * F.lit(k)).alias("s")).collect()[0]
        assert row.s == 6 * k
    return _compiles(spark) - before


def test_every_generated_class_compiles_once_per_session(spark):
    first = _pass(spark)
    assert first >= N_PLANS, f"pass 1 compiled {first} classes"
    second = _pass(spark)
    assert second == 0, f"pass 2 recompiled {second} of pass 1's {first} classes"
