"""Bucketed table layout — the shuffle-elimination path for fact-fact
joins at 100 TB.

A `lineitem ⋈ orders` style join normally shuffles BOTH sides on the
join key every time it runs. Writing the tables bucketed (hash-
partitioned into a fixed number of files per key, optionally sorted
within buckets) moves that shuffle to write time, ONCE: every later
join on the bucket key zips co-located buckets with no Exchange at
all (and with sorted buckets, no per-query Sort either).

This is plain public Spark (`DataFrameWriter.bucketBy` /
`spark.sql.sources.bucketing.enabled`); the cost model: pay one
shuffle at ingest, amortize it over every subsequent join/aggregation
on that key. Bucket counts should target HDFS/S3-friendly file sizes
(~128-512 MB per bucket file at 100 TB — thousands of buckets, not
32); both sides of a co-located join must share bucket count and key.

tests/test_bucketing.py asserts the join plan contains NO shuffle
exchange once both sides are bucketed — the measured evidence behind
SCALE.md's "bucket both fact tables by the join key" claim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_keys: list[str],
    n_buckets: int = 32,
    sort_keys: list[str] | None = None,
) -> None:
    """Write ``df`` as a bucketed (and optionally sorted) parquet table
    registered as ``table`` with explicit storage ``path``. One shuffle
    now; none on any later join/group on ``bucket_keys``.

    The ``n_buckets=32`` default is TEST-scale only (local[32], MB-size
    tables). At 100 TB, size the bucket count for ~128-512 MB bucket
    files — thousands of buckets, per the module docstring."""
    w = (
        df.write.format("parquet")
        .mode("overwrite")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_keys)
    )
    if sort_keys:
        w = w.sortBy(*sort_keys)
    w.saveAsTable(table)


def collocated_join(
    spark: SparkSession, left_table: str, right_table: str, on: list[str], how: str = "inner"
) -> DataFrame:
    """Join two tables previously written with the same bucket spec on
    the bucket key: scans read bucket i of each side into the same
    task — a zipper of co-located buckets, no Exchange in the plan."""
    return spark.table(left_table).join(spark.table(right_table), on, how)

