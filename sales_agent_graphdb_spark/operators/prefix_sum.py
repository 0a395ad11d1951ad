"""Two-pass GLOBAL prefix sum — the scale-out form of
``SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)``.

A global ordered window in Spark degrades to a single partition (the
self-flagged weakness of w5_ntile_buckets); this operator computes the
identical result with no single-partition stage:

1. range-repartition by the order key (partitions hold disjoint,
   ordered key ranges) and materialize ONCE (``materialize``) so every
   consumer sees the same physical partitioning;
2. local pass: per-partition running sum (window partitioned by
   ``spark_partition_id()`` — each partition sorts independently);
3. offset pass: per-partition totals (one tiny row per partition)
   get an EXCLUSIVE running sum over the partition-id order — an
   n_partitions-row frame, broadcast back — and every row adds its
   partition's offset.

The output is independent of where the range boundaries land (integer
arithmetic, disjoint ranges), so the result is deterministic even
though the boundaries are sampled.

Cost note: the checkpoint erases the range partitioning's clustering
info, so the _pid-partitioned window re-shuffles by _pid — two
balanced full-data exchanges total (range + hash) plus the
O(n_partitions) side plan. That is still the right trade at 100 TB:
the alternative is ONE exchange into a SINGLE partition (the
w5_ntile_buckets degenerate shape), which serializes the entire
dataset through one task. ``global_prefix_sum_single_exchange`` below
eliminates the second exchange with an Arrow-batched mapInPandas
local pass over the checkpointed range partitions.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.session import materialize


def global_prefix_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum of ``value_col`` in ``order_col`` order
    (order key must be unique — it defines a total order). Returns the
    input columns plus ``out_col``."""
    reserved = {"_pid", "_local", "_ptotal", "_offset"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"global_prefix_sum: input columns collide with internal names {sorted(clash)}"
        )
    if num_partitions is None:
        conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        num_partitions = int(conf) if str(conf).isdigit() else 32  # "auto" etc.
    ranged = materialize(
        df.repartitionByRange(num_partitions, F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        ),
        eager=False,
    )
    w_local = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.withColumn("_local", F.sum(value_col).over(w_local))
    # Exclusive prefix over the per-partition totals: n_partitions rows,
    # a driver-scale frame regardless of data size.
    offsets = (
        ranged.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ptotal"))
        .withColumn(
            "_offset",
            F.coalesce(
                F.sum("_ptotal").over(
                    Window.orderBy("_pid").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_pid", "_offset")
    )
    out = (
        local.join(F.broadcast(offsets), "_pid")
        .withColumn(out_col, (F.col("_local") + F.col("_offset")))
        .drop("_pid", "_local", "_offset")
    )
    return out


def global_prefix_sum_single_exchange(
    df: DataFrame,
    order_col: str,
    value_col: str,
    out_col: str = "cum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global running sum with ONE full-data exchange — the
    single-shuffle form of :func:`global_prefix_sum` (whose second
    _pid hash exchange this replaces with a narrow Arrow pass).

    1. range-repartition by the order key and sortWithinPartitions
       (the only full-data exchange), tag rows with the partition id,
       and materialize ONCE (``materialize``) so both consumers see
       the same physical partitions;
    2. per-partition totals → exclusive prefix offsets: n_partitions
       rows aggregated map-side and collected to the driver — an
       O(n_partitions) reduction independent of data size (the same
       shape kmeans_centroids uses);
    3. one mapInPandas pass over the SAME checkpointed partitions adds
       offset[pid] + a running carry across the partition's Arrow
       batches — narrow, no shuffle, vectorized cumsum per batch.

    Trade-off vs the two-pass form: the offsets become a driver
    round-trip (forcing two jobs over the checkpointed data instead of
    one self-joined plan) in exchange for halving shuffle volume — at
    100 TB the second exchange is the dominant cost, the n_partitions
    collect is noise. Integer/long value columns stay exact (pandas
    int64 cumsum); the output schema appends ``out_col`` as long.
    """
    reserved = {"_pid", "_ptotal"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            "global_prefix_sum_single_exchange: input columns collide "
            f"with internal names {sorted(clash)}"
        )
    vtype = df.schema[value_col].dataType.simpleString()
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            "global_prefix_sum_single_exchange: value column must be "
            f"integral for an exact long cumsum, got {vtype} "
            "(use global_prefix_sum for non-integral types)"
        )
    if num_partitions is None:
        conf = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        num_partitions = int(conf) if str(conf).isdigit() else 32
    # First consumer: the totals collect below.
    ranged = materialize(
        df.repartitionByRange(num_partitions, F.col(order_col))
        .sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id()),
        eager=False,
    )
    totals = {
        r["_pid"]: r["_ptotal"]
        for r in ranged.groupBy("_pid")
        .agg(F.sum(value_col).alias("_ptotal"))
        .collect()
    }
    # Exclusive prefix over the per-partition totals, driver-side:
    # offsets[p] = Σ totals[q] for q < p (missing pids ⇒ empty ranges).
    offsets: dict[int, int] = {}
    acc = 0
    for p in sorted(totals):
        offsets[p] = acc
        acc += totals[p] or 0

    out_fields = df.schema.fields
    schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in out_fields]
        + [f"`{out_col}` bigint"]
    )
    in_cols = [f.name for f in out_fields]

    def add_offsets(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = 0
        base = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets.get(int(pdf["_pid"].iloc[0]), 0)
            out = pdf[in_cols].copy()
            # NULL values contribute 0 — SUM OVER's null-skipping, with
            # one divergence: an all-null PREFIX yields 0 here where the
            # window form yields NULL (out_col is declared non-null
            # bigint; callers needing the NULL-prefix nicety should use
            # global_prefix_sum).
            vals = pdf[value_col].fillna(0).astype("int64")
            out[out_col] = (vals.cumsum() + (base + carry)).astype("int64")
            carry += int(vals.sum())
            yield out

    return ranged.mapInPandas(add_offsets, schema=schema)


def distributed_ntile(
    df: DataFrame,
    order_cols: list[str],
    n: int,
    out_col: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact SQL ``ntile(n) OVER (ORDER BY order_cols)`` with NO
    single-partition window (the w5_ntile_buckets rewrite, factored
    for reuse; the composite ``order_cols`` must define a total order
    — include a unique tie-break column).

    ntile is a pure function of the global rank, so: (1) global
    row_number via :func:`global_prefix_sum` over a constant-1 column
    (struct-packed composite order key), then (2) the SQL ntile size
    rule — with N rows the first N mod n buckets hold (N div n)+1 —
    applied with integer ``div`` arithmetic, exact at any N. The total
    count joins in as a broadcast one-row frame computed from the BASE
    frame (a column-pruned count, parquet-stats-cheap on file scans).

    Scale: two balanced full-data exchanges (range + pid) plus an
    O(n_partitions) offset side plan — vs the built-in global ntile
    window's one exchange into ONE task. Output: input columns plus
    ``out_col`` (int, 1-based)."""
    reserved = {"_ok", "_one", "_rn", "_n", "_q", "_rem", "_th"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"distributed_ntile: input columns collide with internal names {sorted(clash)}"
        )
    keyed = df.withColumn("_ok", F.struct(*order_cols)).withColumn(
        "_one", F.lit(1)
    )
    ranked = global_prefix_sum(
        keyed, "_ok", "_one", out_col="_rn", num_partitions=num_partitions
    )
    total = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("_q", F.expr(f"_n div {int(n)}"))
        .withColumn("_rem", F.expr(f"_n % {int(n)}"))
        .withColumn("_th", F.expr("_rem * (_q + 1)"))
        .withColumn(
            out_col,
            F.expr(
                "CASE WHEN _rn <= _th THEN (_rn + _q) div (_q + 1) "
                "ELSE _rem + (_rn - _th + greatest(_q, 1) - 1) div greatest(_q, 1) END"
            ).cast("int"),
        )
        .drop("_ok", "_one", "_rn", "_n", "_q", "_rem", "_th")
    )
