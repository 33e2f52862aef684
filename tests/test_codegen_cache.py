"""Generated-code reuse across repeated pipeline runs.

A long-running service reruns the same plans on every refresh. Spark
caches compiled whole-stage classes by source text, so once the cache
holds an op's working set a repeat compiles nothing. ``get_spark``
sizes the cache for that (``spark.sql.codegen.cache.maxEntries``); at
Spark's default of 100 entries the lazy fixture pipeline below evicts
its own classes and recompiles ~330 of them on every repeat.
"""

from __future__ import annotations

from formula1_data_pipeline_spark.plans.assertions import assertions_report
from formula1_data_pipeline_spark.plans.models import REGISTRY


def _compiled_classes(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_pipeline_compiles_no_new_classes(spark, raw_tables):
    marts = [name for name, m in REGISTRY.models.items()
             if m.materialized == "table"]
    assert len(marts) == 3
    compiled = []
    for _ in range(4):
        before = _compiled_classes(spark)
        built = REGISTRY.run(spark, raw_tables)
        assertions_report(built).collect()
        for name in marts:
            built[name].collect()
        compiled.append(_compiled_classes(spark) - before)
    # earlier tests may have cached the first repeat's classes already;
    # the counter itself must be live
    assert _compiled_classes(spark) > 0
    assert compiled[-1] == 0, compiled
