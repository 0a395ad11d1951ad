"""The parquet schema cache (``catalog.read_parquet``), the memoized
query vector, the streaming read-back schema and ``cosine_to``.

A repeat read of an unchanged path must launch no Spark job and return
exactly what an inferred read returns; any change to the files or to
``nanosAsLong`` must re-infer."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_agent_graphdb_spark import catalog, registry
from sales_agent_graphdb_spark.operators import similarity as sim
from sales_agent_graphdb_spark.queries import vector

from tests.conftest import SF_SMALL
from tests.test_r13_optimizations import _jobs_in_group


def test_repeat_read_of_unchanged_file_launches_no_job(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
    first = _jobs_in_group(
        spark, "schema:first", lambda: catalog.read_parquet(spark, path)
    )
    second = _jobs_in_group(
        spark, "schema:second", lambda: catalog.read_parquet(spark, path)
    )
    assert first >= 1, "the uncached read should run the inference job"
    assert second == 0, second
    assert sorted(catalog.read_parquet(spark, path).collect()) == sorted(
        spark.read.parquet(path).collect()
    )


def test_file_replaced_in_place_reinfers(spark, tmp_path):
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert catalog.read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [1.5], "c": ["new"]}), path)
    df = catalog.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert df.columns == ["a", "c"]
    assert df.collect()[0]["c"] == "new"


def test_spark_overwrite_of_directory_reinfers(spark, tmp_path):
    path = str(tmp_path / "dir")
    spark.range(4).withColumn("v", F.col("id") * 2).write.parquet(path)
    before = catalog.path_signature(path)
    assert catalog.read_parquet(spark, path).columns == ["id", "v"]
    (
        spark.range(3)
        .select(F.col("id").cast("string").alias("s"))
        .write.mode("overwrite")
        .parquet(path)
    )
    assert catalog.path_signature(path) != before
    df = catalog.read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r.s for r in df.collect()) == ["0", "1", "2"]


def test_nanos_as_long_flip_misses_the_cache(spark, tmp_path):
    key = "spark.sql.legacy.parquet.nanosAsLong"
    path = str(tmp_path / "one.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    catalog.read_parquet(spark, path)
    original = spark.conf.get(key, "false")
    spark.conf.set(key, "false" if original == "true" else "true")
    try:
        flipped = _jobs_in_group(
            spark, "schema:nanos", lambda: catalog.read_parquet(spark, path)
        )
    finally:
        spark.conf.set(key, original)
    assert flipped >= 1, "a different nanosAsLong must re-infer"


def test_glob_and_missing_paths_fall_through(spark, tmp_path):
    spark.range(2).write.parquet(str(tmp_path / "g"))
    glob = str(tmp_path / "g" / "*.parquet")
    assert catalog.path_signature(glob) is None
    assert catalog.read_parquet(spark, glob).count() == 2
    assert os.path.abspath(glob) not in catalog._SCHEMAS


@pytest.mark.parametrize("parts", [("cell",), ("t", "bucket")])
def test_cached_partitioned_read_equals_inferred(spark, tmp_path, parts):
    """The partition columns of a ``partitionBy`` layout keep their
    inferred position and type when the cached schema is passed."""
    path = str(tmp_path / "layout")
    df = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias("embedding"),
        (F.col("id") % 4).cast("int").alias("cell"),
        (F.col("id") % 3).cast("int").alias("t"),
        (F.col("id") % 5).alias("bucket"),
    )
    df.write.partitionBy(*parts).parquet(path)
    catalog.read_parquet(spark, path)  # infers and caches
    jobs = _jobs_in_group(
        spark, "schema:layout", lambda: catalog.read_parquet(spark, path)
    )
    cached = catalog.read_parquet(spark, path)
    inferred = spark.read.parquet(path)
    assert jobs == 0, jobs
    assert cached.schema == inferred.schema
    assert cached.columns[-len(parts):] == list(parts)
    assert sorted(map(tuple, cached.collect())) == sorted(map(tuple, inferred.collect()))
    pruned = cached.filter(F.col(parts[0]) == 1)._jdf.queryExecution().executedPlan()
    assert "PartitionFilters: [isnotnull(" in pruned.toString()


def test_written_schema_equals_the_read_back_schema(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("d", T.DecimalType(20, 6), False),
            T.StructField("ts", T.TimestampType(), True),
            T.StructField(
                "s",
                T.StructType([T.StructField("x", T.IntegerType(), False)]),
                False,
            ),
            T.StructField("a", T.ArrayType(T.DoubleType(), False), False),
            T.StructField("m", T.MapType(T.StringType(), T.LongType(), False), False),
        ]
    )
    import datetime
    import decimal

    df = spark.createDataFrame(
        [(1, decimal.Decimal("1.5"), datetime.datetime(2024, 1, 1), (2,), [1.0], {"a": 1})],
        schema,
    )
    path = str(tmp_path / "w")
    df.write.parquet(path)
    assert catalog.written_schema(df) == spark.read.parquet(path).schema
    events = catalog.load_table(spark, SF_SMALL, "events")
    path = str(tmp_path / "events")
    events.write.parquet(path)
    assert catalog.written_schema(events) == spark.read.parquet(path).schema


def test_query_vec_is_read_once(spark):
    first = vector._query_vec(spark, SF_SMALL)
    jobs = _jobs_in_group(
        spark, "schema:qvec", lambda: vector._query_vec(spark, SF_SMALL)
    )
    assert jobs == 0, jobs
    assert vector._query_vec(spark, SF_SMALL) == first


def test_cosine_to_is_bit_identical_to_cosine(spark):
    emb = catalog.load_table(spark, SF_SMALL, "embeddings")
    qv = vector._query_vec(spark, SF_SMALL)
    for q in (qv, [x * 3.0 for x in qv], qv[::-1]):
        rows = emb.select(
            "vec_id",
            sim.cosine(F.col("embedding"), sim.lit_vector(q)).alias("a"),
            sim.cosine_to(F.col("embedding"), q).alias("b"),
        ).collect()
        for r in rows:
            assert repr(r.a) == repr(r.b), (r.vec_id, r.a, r.b)


# Warm jobs per call at sf0.001 (8 shuffle partitions): each is one
# scoring job; the index, the query vector and the schemas are cached.
_WARM_JOB_BUDGET = {
    "v1_knn_cosine_top5": 1,
    "ann_ivf_pruned_topk": 1,
    "ann_ivf_pruned_portable": 1,
}


@pytest.mark.parametrize("name", sorted(_WARM_JOB_BUDGET))
def test_warm_vector_lookup_job_budget(spark, name):
    fn = registry.all_queries()[name].fn
    fn(spark, SF_SMALL).collect()  # cold: builds the index, fills the caches
    jobs = _jobs_in_group(
        spark, f"schema:warm:{name}", lambda: fn(spark, SF_SMALL).collect()
    )
    assert jobs <= _WARM_JOB_BUDGET[name], jobs
