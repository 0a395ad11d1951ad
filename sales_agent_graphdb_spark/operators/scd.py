"""Slowly-changing-dimension Type 2 merge (Kimball SCD2) — versioned
dimension history maintenance, the warehouse-side counterpart of the
MERGE family (operators/merge.py applies the reference's create-only /
overwrite semantics; SCD2 is the KEEP-HISTORY third member: an update
never destroys the old row, it closes its validity interval and appends
a new version).

Spark-first shape: one equi-join of the incoming batch against the
CURRENT slice of the history on the business key, a null-safe
any-attribute-changed predicate, then a three-way union — untouched
rows, closed-out old versions (valid_to = effective date), new
versions (valid_from = effective date, open valid_to) — all codegen'd
projections over two scans of the history and one of the batch. At
100 TB the history is bucketed by the business key, so the join and
the union legs co-locate without an exchange, and the CURRENT slice is
a partition (valid_to IS NULL) the scan prunes to.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _any_changed(attr_cols: list[str]) -> Column:
    """Null-safe 'any attribute differs' between cur.<a> and upd.<a>."""
    cond = None
    for a in attr_cols:
        c = ~F.col(f"cur.{a}").eqNullSafe(F.col(f"upd.{a}"))
        cond = c if cond is None else (cond | c)
    if cond is None:
        raise ValueError("scd2_apply: attr_cols must be non-empty")
    return cond


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    key_col: str,
    attr_cols: list[str],
    effective_date: str,
) -> DataFrame:
    """Apply one batch of dimension updates to an SCD2 ``history``.

    ``history`` columns: key_col, *attr_cols, valid_from (string date),
    valid_to (string date, NULL = current). ``updates`` columns:
    key_col, *attr_cols. Semantics per update row:

    - no current row with that key → insert (valid_from = effective);
    - current row exists, every attribute null-safe-equal → NO-OP (no
      new version, interval untouched);
    - current row exists, any attribute differs → close the current
      row (valid_to = effective) and append the new version
      (valid_from = effective, valid_to NULL).

    Closed historical rows are never touched. Returns the new history.

    Assumes ``updates`` carries AT MOST ONE row per key (the standard
    staged-batch contract — dedupe upstream, e.g. a4_dedup_last_wins,
    if a feed can repeat keys): duplicate update keys would append one
    open version each. Always checking would cost a full groupBy of
    the batch per merge, so the contract is documented, not policed.

    CHAINING: this function references ``history`` ~6 times (current/
    closed splits, semi/anti joins, unions), so applying k batches in
    ONE unbroken lineage builds a ~6^k-path plan tree — Catalyst
    analysis cost explodes exponentially. Materialize between batches:
    in production each run writes the history table (lineage truncates
    at the table); for in-memory chains, ``session.materialize(...,
    eager=True)`` after each apply (see tests/test_merge_properties.py).
    """
    cur = history.filter(F.col("valid_to").isNull()).alias("cur")
    closed_hist = history.filter(F.col("valid_to").isNotNull())
    upd = updates.alias("upd")

    joined = cur.join(upd, F.col(f"cur.{key_col}") == F.col(f"upd.{key_col}"))
    changed_keys = joined.filter(_any_changed(attr_cols)).select(
        F.col(f"cur.{key_col}").alias(key_col)
    )

    closed_now = cur.join(changed_keys, key_col, "left_semi").withColumn(
        "valid_to", F.lit(effective_date)
    )
    untouched_cur = cur.join(changed_keys, key_col, "left_anti")

    new_keys = upd.join(cur, key_col, "left_anti").select(
        key_col, *attr_cols
    )
    new_versions = (
        changed_keys.join(upd, key_col)
        .select(key_col, *attr_cols)
        .unionByName(new_keys)
        .withColumn("valid_from", F.lit(effective_date))
        .withColumn("valid_to", F.lit(None).cast("string"))
    )

    return (
        closed_hist.unionByName(untouched_cur)
        .unionByName(closed_now)
        .unionByName(new_versions)
    )
