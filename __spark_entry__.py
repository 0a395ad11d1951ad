"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over sales_agent_graphdb_spark: the registry holds one entry
per implemented operator from SURVEY.md §2 (plus the LLM-pipeline
extensions), each with a DuckDB oracle.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from sales_agent_graphdb_spark import registry

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from sales_agent_graphdb_spark.queries.relational import flagship_revenue_by_brand

    return flagship_revenue_by_brand(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query."""
    return registry.oracles()
