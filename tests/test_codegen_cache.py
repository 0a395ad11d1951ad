"""The session's codegen cache holds its warm working set of generated
classes: once a mix of registered queries has run, running it again
compiles nothing."""

from __future__ import annotations

from sales_agent_graphdb_spark.registry import all_queries
from tests.conftest import SF_SMALL

# About 110 generated classes at sf0.001: more than Spark's default
# cache (100 entries, evicting before it is full) keeps.
MIX = ("graph_connected_components", "f11_chunk_documents", "st_stream_topk_maintain")


def _compiled(spark) -> int:
    jvm = spark._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_third_pass_compiles_nothing(spark):
    specs = all_queries()
    per_pass = []
    for _ in range(3):
        before = _compiled(spark)
        for name in MIX:
            specs[name].fn(spark, SF_SMALL).write.format("noop").mode("overwrite").save()
        per_pass.append(_compiled(spark) - before)
    assert per_pass[2] == 0, per_pass
