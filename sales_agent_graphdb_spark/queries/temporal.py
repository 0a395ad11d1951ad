"""Temporal / range join extensions over the events table.

SURVEY.md §2.3 records that the reference has *no* theta/range/as-of
joins anywhere ("absent — extension surface only"); these are the
operators an event/training-data pipeline needs at 100 TB, expressed
Spark-first:

- **as-of join** — Spark has no ASOF JOIN operator; the scalable
  re-expression is the union-tag-window form: tag both sides, union,
  and carry the last left-side row forward with
  ``last(..., ignorenulls=True)`` over a (key, time)-ordered window.
  ONE shuffle on the key, state bounded by one row per key — vs a
  per-pair range join that explodes quadratically per key.
- **banded range join** — small band dimension broadcast against the
  fact with a non-equi predicate (BroadcastNestedLoopJoin); each fact
  partition streams once. For uniform grids the arithmetic equi form
  (bucket = floor(value/width)) is preferred; for big×big range joins,
  pre-bucket both sides on a coarse grid and refine inside the bucket.
- **exact discrete percentile** — position-pick via row_number per
  group: deterministic and oracle-exact (it returns an actual element,
  no interpolation arithmetic to drift between engines). The window
  sort shards by group; for the 100 TB form use the approx sketch
  variant below (`pct_approx_value`, t-digest-style).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import (
    dec6,
    dec6_sql,
    money,
    money_cents,
    money_cents_sql,
    money_sql,
)
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize


@register(
    "asof_join_last_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, 0 AS side, value FROM events
      WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 1 AS side, CAST(NULL AS DOUBLE) AS value
      FROM events WHERE event_type = 'click'
    ),
    w AS (
      SELECT user_id, ts, event_id, side,
             last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_ts,
             last_value(CASE WHEN side = 0 THEN value END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_value
      FROM u
    )
    SELECT event_id, user_id, ts, last_purchase_ts, last_purchase_value
    FROM w WHERE side = 1 ORDER BY event_id
    """,
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click event picks up the most recent purchase
    (ts ≤ click ts, same-instant purchase counts) by the same user.
    Union-tag-window form: one shuffle on user_id, O(1) carried state
    per key — no per-pair range explosion. Ties are totally ordered by
    (ts, side, event_id), so the result is deterministic."""
    e = catalog.load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(0).alias("side"), "value"
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        "event_id",
        F.lit(1).alias("side"),
        F.lit(None).cast("double").alias("value"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    is_p = F.col("side") == 0
    return (
        p.unionByName(c)
        .withColumn(
            "last_purchase_ts",
            F.last(F.when(is_p, F.col("ts")), ignorenulls=True).over(w),
        )
        .withColumn(
            "last_purchase_value",
            F.last(F.when(is_p, F.col("value")), ignorenulls=True).over(w),
        )
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "ts", "last_purchase_ts", "last_purchase_value")
        .orderBy("event_id")
    )


_BANDS = [
    ("micro", 0.0, 1.0),
    ("small", 1.0, 10.0),
    ("mid", 10.0, 50.0),
    ("large", 50.0, 200.0),
    ("huge", 200.0, 1000.0),
]

_BANDS_VALUES = ", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)


@register(
    "range_join_value_bands",
    oracle=f"""
    WITH bands(band, lo, hi) AS (VALUES {_BANDS_VALUES})
    SELECT band, CAST(lo AS DOUBLE) AS lo, CAST(hi AS DOUBLE) AS hi,
           COUNT(*) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band, b.lo, b.hi ORDER BY b.lo
    """,
)
def range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded range join: events joined to a non-uniform band dimension
    on lo ≤ value < hi, aggregated per band. The band side is broadcast
    (BroadcastNestedLoopJoin over 5 rows — each fact partition streams
    once, no shuffle before the partial agg). Sums go through exact
    DECIMAL so partition order can't skew the double."""
    e = catalog.load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        e.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band", "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .orderBy("lo")
    )


@register(
    "pct_exact_disc",
    oracle="""
    WITH r AS (
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events)
    SELECT event_type, MAX(n) AS n_events,
           MIN(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT) THEN value END) AS p50,
           MIN(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT) THEN value END) AS p90,
           MIN(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN value END) AS p99
    FROM r GROUP BY event_type ORDER BY event_type
    """,
)
def pct_exact_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete percentiles (p50/p90/p99 of event value per type)
    by position-pick: rank within group, select the element at
    ceil(p·n). Returns actual data values — bit-exact across engines,
    unlike interpolated percentile_cont. Per-group window sort shards
    by event_type; see pct_approx_value for the sketch-based 100 TB
    form."""
    e = catalog.load_table(spark, sf_dir, "events")
    wr = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    r = e.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: float, alias: str):
        pos = F.ceil(F.col("n") * F.lit(p)).cast("long")
        return F.min(F.when(F.col("rn") == pos, F.col("value"))).alias(alias)

    return (
        r.groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            pick(0.5, "p50"),
            pick(0.9, "p90"),
            pick(0.99, "p99"),
        )
        .orderBy("event_type")
    )


@register(
    "pct_approx_value",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def pct_approx_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles via Spark's built-in sketch
    (approx_percentile, Greenwald-Khanna): map-side partial sketches
    merge associatively — no global sort, no single-partition window.
    This is the 100 TB path that pct_exact_disc and w5_ntile_buckets
    degrade to.

    Oracle-checked as a BOUNDS VERDICT (VERDICT r02 #5): the sketch
    values themselves are engine-specific, but GK guarantees each
    returned value's rank is within ±ε·n of p·n (ε = 1/accuracy). The
    query therefore joins the sketch output back to the data, computes
    each returned value's true rank interval [#(<v)+1, #(≤v)], and
    emits whether it intersects [p·n − tol, p·n + tol]
    (tol = ε·n + 1 for float slack) — so the driver row is a real
    check at ANY scale factor: a sketch that violated its rank bound
    would flip a boolean and hash-mismatch the all-TRUE oracle."""
    e = catalog.load_table(spark, sf_dir, "events")
    pct = F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)")
    approx = e.groupBy("event_type").agg(pct.alias("pcts"))
    j = e.join(F.broadcast(approx), "event_type")

    def ok(i: int, p: float):
        v = F.col("pcts")[i]
        cnt_lt = F.sum((F.col("value") < v).cast("long"))
        cnt_le = F.sum((F.col("value") <= v).cast("long"))
        n = F.count(F.lit(1))
        tol = n * F.lit(1.0 / 10000) + F.lit(1.0)
        lo, hi = n * F.lit(p) - tol, n * F.lit(p) + tol
        return ((cnt_lt + 1) <= hi) & (cnt_le >= lo)

    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            ok(0, 0.5).alias("p50_ok"),
            ok(1, 0.9).alias("p90_ok"),
            ok(2, 0.99).alias("p99_ok"),
        )
        .orderBy("event_type")
    )


# The dense per-key hour spine both gap-fill queries left-join their
# hourly aggregate onto: every hour from the first event's hour to the
# last's, for every event type.
_HOUR_SPINE_SQL = """bounds AS (
      SELECT date_trunc('hour', MIN(ts)) AS min_h,
             date_trunc('hour', MAX(ts)) AS max_h
      FROM events),
    spine AS (
      SELECT t.event_type,
             unnest(generate_series(b.min_h, b.max_h, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT DISTINCT event_type FROM events) t CROSS JOIN bounds b)"""


def _hour_spine(e: DataFrame) -> DataFrame:
    """Spark side of ``_HOUR_SPINE_SQL``: one ``sequence(min_h, max_h,
    1 hour)`` explode per key from a one-row bounds broadcast."""
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("min_h"),
        F.date_trunc("hour", F.max("ts")).alias("max_h"),
    )
    types = e.select("event_type").distinct()
    return types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence(F.col("min_h"), F.col("max_h"), F.expr("interval 1 hour"))
        ).alias("hour"),
    )


@register(
    "ts_gap_fill_locf",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
      FROM events GROUP BY event_type, hour),
    {_HOUR_SPINE_SQL},
    joined AS (
      SELECT s.event_type, s.hour,
             COALESCE(h.n_events, 0) AS n_events,
             (h.n_events IS NULL) AS filled,
             last_value(h.total_value IGNORE NULLS)
               OVER (PARTITION BY s.event_type ORDER BY s.hour
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS total_value_locf
      FROM spine s LEFT JOIN hourly h
        ON s.event_type = h.event_type AND s.hour = h.hour)
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           n_events, filled, total_value_locf
    FROM joined ORDER BY event_type, hour
    """,
)
def ts_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill + last-observation-carried-forward — the
    TimescaleDB ``time_bucket_gapfill``/``locf`` pattern (absent from
    the reference, SURVEY §2.5 extension surface; a metrics/training
    pipeline needs dense per-key series for feature windows and chart
    serving). The hour spine is GENERATED distributed — one
    ``sequence(min_h, max_h, 1 hour)`` explode per key from a one-row
    bounds broadcast, never a driver loop — then left-joined against
    the hourly aggregate and densified: missing hours get n_events=0,
    a ``filled`` marker, and carry the last seen hourly total forward
    via ``last(..., ignorenulls=True)`` over a (key, hour) window.

    Scale: the heavy input collapses to the hourly aggregate first
    (map-side partial), so the spine join and LOCF window run on
    aggregate-sized data, sharded by key — hours-per-key state only.
    Hourly totals are exact DECIMAL sums cast to double once, so LOCF
    carries bit-identical values on both engines. Hours before a key's
    first observation stay NULL (nothing to carry) on both engines.
    """
    e = catalog.load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec6("value")).cast("double").alias("total_value"),
    )
    j = _hour_spine(e).join(hourly, ["event_type", "hour"], "left")
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        j.select(
            "event_type",
            F.col("hour"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.col("n_events").isNull().alias("filled"),
            F.last("total_value", ignorenulls=True).over(w).alias("total_value_locf"),
        )
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "filled",
            "total_value_locf",
        )
        .orderBy("event_type", "hour")
    )


def scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic two-version SCD2 dimension build shared by
    join_scd2_asof (batch) and the streaming enrichment twin: every
    customer's segment effective 2024-01-01; every 5th customer
    re-segmented 'MOVED' effective 2024-01-15. Columns (user_id, seg,
    ts=version-effective time)."""
    c = catalog.load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("seg"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    ).unionByName(
        c.filter(F.col("c_custkey") % 5 == 0).select(
            F.col("c_custkey").alias("user_id"),
            F.lit("MOVED").alias("seg"),
            F.lit("2024-01-15 00:00:00").cast("timestamp").alias("ts"),
        )
    )


# Shared by join_scd2_asof (batch) and st_stream_scd2_enrich (the
# per-microbatch streaming twin in streaming_exec.py): ONE oracle so
# the two forms can never silently certify different results.
SCD2_ASOF_ORACLE = f"""
    WITH hist AS (
      SELECT c_custkey AS user_id, c_mktsegment AS seg,
             TIMESTAMP '2024-01-01 00:00:00' AS vts
      FROM customer
      UNION ALL
      SELECT c_custkey, 'MOVED', TIMESTAMP '2024-01-15 00:00:00'
      FROM customer WHERE c_custkey % 5 = 0),
    u AS (
      SELECT user_id, vts AS ts, 0 AS side, seg,
             CAST(NULL AS BIGINT) AS event_id,
             CAST(NULL AS VARCHAR) AS event_type,
             CAST(NULL AS DOUBLE) AS value
      FROM hist
      UNION ALL
      SELECT user_id, ts, 1 AS side, CAST(NULL AS VARCHAR) AS seg,
             event_id, event_type, value
      FROM events),
    w AS (
      SELECT side, event_type, value,
             last_value(seg IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS seg_at
      FROM u)
    SELECT seg_at AS segment, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM w WHERE side = 1
    GROUP BY seg_at, event_type ORDER BY segment, event_type
    """


@register("join_scd2_asof", oracle=SCD2_ASOF_ORACLE)
def join_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-dimension (SCD2 as-of) join — the warehousing staple
    the plain equi-join gets WRONG: each fact row must join the
    dimension version valid AT EVENT TIME, not the current one. The
    dimension history here is a deterministic two-version build (every
    customer's segment at 2024-01-01; every 5th customer re-segmented
    'MOVED' effective 2024-01-15), so mid-January events split between
    versions and the check is non-vacuous.

    Expressed in the union-tag-window AS-OF form (asof_join_last_
    purchase): dimension versions enter the event stream as side-0
    rows at their effective timestamps, and ``last(seg, ignorenulls)``
    over the (key, time)-ordered window carries the in-force version
    onto every fact row — ONE shuffle on the key, O(1) carried state,
    no per-pair BETWEEN range join (which explodes on hot keys and
    cannot prune at 100 TB). A version effective exactly at the event
    timestamp applies (side 0 sorts first). Output rolls up to
    segment-at-event-time × event_type with exact-DECIMAL totals."""
    e = catalog.load_table(spark, sf_dir, "events")
    hist = scd2_history(spark, sf_dir)
    side0 = hist.select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        "seg",
        F.lit(None).cast("long").alias("event_id"),
        F.lit(None).cast("string").alias("event_type"),
        F.lit(None).cast("double").alias("value"),
    )
    side1 = e.select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        F.lit(None).cast("string").alias("seg"),
        "event_id",
        "event_type",
        "value",
    )
    u = side0.unionByName(side1)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    tagged = u.select(
        "side",
        "event_type",
        "value",
        F.last("seg", ignorenulls=True).over(w).alias("seg_at"),
    )
    return (
        tagged.filter(F.col("side") == 1)
        .groupBy(F.col("seg_at").alias("segment"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .orderBy("segment", "event_type")
    )


_GRID_S = 21_600  # 6-hour grid cells for the bucketed range joins

# ONE promo-interval construction (3 overlapping 10-hour windows per
# day, derived from the events table's own day spine) shared by both
# grid range joins — Spark builder + SQL CTE in lockstep.
_PROMOS_SQL = """
    days AS (
      SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    promos AS (
      SELECT CAST(epoch(day + k.k * INTERVAL 8 HOUR) AS BIGINT) AS promo_id,
             day + k.k * INTERVAL 8 HOUR AS start_ts,
             day + k.k * INTERVAL 8 HOUR + INTERVAL 10 HOUR AS end_ts
      FROM days CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) k)
"""


def _promos(e: DataFrame) -> DataFrame:
    """Spark twin of _PROMOS_SQL."""
    days = e.select(F.date_trunc("day", F.col("ts")).alias("day")).distinct()
    ks = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("k")
    return days.select("day", ks).select(
        F.unix_timestamp(
            F.col("day") + F.col("k") * F.expr("interval 8 hours")
        ).alias("promo_id"),
        (F.col("day") + F.col("k") * F.expr("interval 8 hours")).alias("start_ts"),
        (
            F.col("day")
            + F.col("k") * F.expr("interval 8 hours")
            + F.expr("interval 10 hours")
        ).alias("end_ts"),
    )


def _interval_cells(intervals: DataFrame) -> DataFrame:
    """Explode each [start_ts, end_ts) interval to every _GRID_S cell
    it covers (end exclusive)."""
    return intervals.withColumn(
        "cell",
        F.explode(
            F.sequence(
                F.floor(F.unix_timestamp("start_ts") / _GRID_S).cast("long"),
                F.floor((F.unix_timestamp("end_ts") - 1) / _GRID_S).cast("long"),
            )
        ),
    )


@register(
    "range_join_grid_bucketed",
    oracle=f"""
    WITH {_PROMOS_SQL}
    SELECT p.promo_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({dec6_sql("e.value")}) AS DOUBLE) AS total_value
    FROM promos p JOIN events e
      ON e.ts >= p.start_ts AND e.ts < p.end_ts
    GROUP BY p.promo_id ORDER BY p.promo_id
    """,
)
def range_join_grid_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed range join — the BIG×BIG form of point-in-interval
    matching that range_join_value_bands' broadcast cannot reach
    (temporal.py's own docstring prescribes it: "pre-bucket both sides
    on a coarse grid and refine"). Events attribute to overlapping
    10-hour promo windows (3/day, derived from the events table's own
    day spine, so the construction scales with the data and is
    mirrored in the oracle).

    Shape: each point carries its single 6-hour grid cell; each
    interval EXPLODES to the 2-3 cells it covers; an EQUI-join on the
    cell co-partitions both sides (plain shuffle join — no broadcast,
    no BroadcastNestedLoopJoin, no cartesian) and the exact
    ts ∈ [start, end) predicate refines inside the cell. A point owns
    exactly one cell, so no pair can match twice and no dedup pass is
    needed. At 100 TB both sides shuffle once on the cell key; cell
    width trades duplication factor (interval_len/width + 1 copies of
    the interval side) against per-cell join fan-in. The oracle is the
    plain non-equi BETWEEN join: the grid must be invisible in the
    result."""
    e = catalog.load_table(spark, sf_dir, "events")
    # Interval side: explode to every covered grid cell.
    p_cells = _interval_cells(_promos(e))
    # Point side: exactly one cell per event.
    pts = e.select(
        "ts",
        "value",
        F.floor(F.unix_timestamp("ts") / _GRID_S).cast("long").alias("cell"),
    )
    joined = pts.join(p_cells, "cell").filter(
        (F.col("ts") >= F.col("start_ts")) & (F.col("ts") < F.col("end_ts"))
    )
    return (
        joined.groupBy("promo_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .orderBy("promo_id")
    )


@register(
    "range_join_interval_overlap",
    oracle=f"""
    WITH {_PROMOS_SQL}
    SELECT a.promo_id AS promo_a, b.promo_id AS promo_b,
           CAST(epoch(least(a.end_ts, b.end_ts))
                - epoch(greatest(a.start_ts, b.start_ts)) AS BIGINT)
             AS overlap_s
    FROM promos a JOIN promos b
      ON a.promo_id < b.promo_id
     AND a.start_ts < b.end_ts AND b.start_ts < a.end_ts
    ORDER BY promo_a, promo_b
    """,
)
def range_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL×INTERVAL overlap join on the grid — the harder half of
    the grid-bucketed family (range_join_grid_bucketed covers
    point-in-interval): find every pair of overlapping promo windows
    and their overlap length. Both sides explode to their covered
    cells, the equi-join on the cell co-partitions them, and the exact
    overlap predicate refines inside the cell.

    Because two overlapping intervals can share SEVERAL grid cells,
    each pair would match once per shared cell; the CANONICAL-CELL
    rule — keep a match only in the cell containing
    max(start_a, start_b), i.e. where the overlap begins — emits every
    pair exactly once with a pure filter, no distinct/dedup shuffle.
    The plain non-equi self-join oracle proves both the grid and the
    canonicalization invisible in the result. At 100 TB this is two
    cell-key shuffles and per-cell products bounded by intervals-per-
    cell — never the all-pairs theta join."""
    e = catalog.load_table(spark, sf_dir, "events")
    cells = _interval_cells(_promos(e))
    a = cells.select(
        F.col("promo_id").alias("promo_a"),
        F.col("start_ts").alias("start_a"),
        F.col("end_ts").alias("end_a"),
        "cell",
    )
    b = cells.select(
        F.col("promo_id").alias("promo_b"),
        F.col("start_ts").alias("start_b"),
        F.col("end_ts").alias("end_b"),
        "cell",
    )
    joined = a.join(b, "cell").filter(
        (F.col("promo_a") < F.col("promo_b"))
        & (F.col("start_a") < F.col("end_b"))
        & (F.col("start_b") < F.col("end_a"))
        # canonical cell: where the overlap starts
        & (
            F.col("cell")
            == F.floor(
                F.unix_timestamp(F.greatest("start_a", "start_b")) / _GRID_S
            ).cast("long")
        )
    )
    return joined.select(
        "promo_a",
        "promo_b",
        (
            F.unix_timestamp(F.least("end_a", "end_b"))
            - F.unix_timestamp(F.greatest("start_a", "start_b"))
        ).alias("overlap_s"),
    ).orderBy("promo_a", "promo_b")


# ---------------------------------------------------------------------------
# OHLC downsampling — the hypertable/time-series rollup that compresses
# a raw event stream into per-bucket open/high/low/close/volume bars
# (the continuous-aggregate primitive of every time-series store,
# re-expressed as one window + one aggregation).
# ---------------------------------------------------------------------------


@register(
    "ts_downsample_ohlc",
    oracle=f"""
    WITH r AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket, value,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events)
    SELECT event_type, bucket,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS volume
    FROM r GROUP BY event_type, bucket
    ORDER BY event_type, bucket
    """,
)
def ts_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type: open/close are the first/last
    value by (ts, event_id) within the bucket, high/low are min/max,
    volume is the exact-DECIMAL sum (order-insensitive, bit-identical
    to the oracle).

    Spark-first shape: both row_number windows and the final groupBy
    share the SAME partitioning key (event_type, hour bucket), so the
    whole query is ONE shuffle — the windows run back-to-back in one
    exchange and the aggregation reuses it. Buckets shard the window
    sort (type x hour, never a global sort); at 100 TB with a
    date-partitioned table the scan prunes to the requested time range
    before the exchange."""
    e = catalog.load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("hour", F.col("ts")).alias("bucket")
    base = e.select("event_type", bucket, "ts", "event_id", "value")
    pw = W.partitionBy("event_type", "bucket")
    r = base.select(
        "event_type",
        "bucket",
        "value",
        F.row_number().over(pw.orderBy(F.col("ts").asc(), F.col("event_id").asc())).alias("rn_a"),
        F.row_number().over(pw.orderBy(F.col("ts").desc(), F.col("event_id").desc())).alias("rn_d"),
    )
    return (
        r.groupBy("event_type", "bucket")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("volume"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------------------
# EWMA — exponentially-weighted moving average per user, a RECURSIVE
# per-key computation (y_t = a·x_t + (1-a)·y_{t-1}) that no plain SQL
# window frame expresses. Both engines run the identical left-to-right
# fold over the identically-ordered per-key value list, so the
# recursion is bit-exact across engines: Spark `aggregate` seeded with
# the first element mirrors DuckDB `list_reduce` (which folds from the
# first element with the accumulator as the lambda's FIRST argument).
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3


@register(
    "ts_ewma_per_user",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts) AS last_ts,
           list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       (acc, x) -> x * CAST({_EWMA_ALPHA} AS DOUBLE)
                                   + acc * CAST({1 - _EWMA_ALPHA} AS DOUBLE)) AS ewma
    FROM events
    GROUP BY user_id ORDER BY user_id
    """,
)
def ts_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values in (ts, event_id) order —
    the recursive smoothing a feature pipeline computes per entity.

    Spark-first shape: ONE groupBy(user) shuffle; the per-user event
    list is collected as structs, sorted in-plan (sort_array — struct
    lexicographic order gives the deterministic (ts, event_id)
    sequence), and folded by the `aggregate` higher-order function
    inside codegen — no Python, no per-key iteration on the driver.
    Per-key state is the user's own event list (bounded by per-entity
    activity); for unbounded keys the streaming twin is
    applyInPandasWithState (streaming/pipelines.py sessions), which
    carries y_{{t-1}} as managed state instead of re-folding."""
    e = catalog.load_table(spark, sf_dir, "events")
    grouped = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", F.col("value").cast("double").alias("v")))
        ).alias("seq"),
    )
    vals = F.transform(F.col("seq"), lambda s: s.getField("v"))
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: x * F.lit(_EWMA_ALPHA) + acc * F.lit(1 - _EWMA_ALPHA),
    )
    return (
        grouped.select("user_id", "n_events", "last_ts", ewma.alias("ewma"))
        .orderBy("user_id")
    )


@register(
    "asof_join_nearest",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, event_id, 0 AS side FROM events
      WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, event_id, 1 AS side FROM events
      WHERE event_type = 'click'
    ),
    w AS (
      SELECT user_id, ts, event_id, side,
             last_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bk_ts,
             first_value(CASE WHEN side = 0 THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fw_ts
      FROM u
    )
    SELECT event_id, user_id, ts,
           CASE WHEN bk_ts IS NULL AND fw_ts IS NULL THEN NULL
                WHEN fw_ts IS NULL THEN bk_ts
                WHEN bk_ts IS NULL THEN fw_ts
                WHEN epoch_us(ts) - epoch_us(bk_ts)
                     <= epoch_us(fw_ts) - epoch_us(ts) THEN bk_ts
                ELSE fw_ts END AS nearest_purchase_ts,
           CASE WHEN bk_ts IS NULL AND fw_ts IS NULL THEN 'none'
                WHEN fw_ts IS NULL THEN 'back'
                WHEN bk_ts IS NULL THEN 'fwd'
                WHEN epoch_us(ts) - epoch_us(bk_ts)
                     <= epoch_us(fw_ts) - epoch_us(ts) THEN 'back'
                ELSE 'fwd' END AS direction,
           CAST(least(epoch_us(ts) - epoch_us(bk_ts),
                      epoch_us(fw_ts) - epoch_us(ts)) AS BIGINT) AS delta_us
    FROM w WHERE side = 1 ORDER BY event_id
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-in-time as-of join: each click is matched to its
    closest purchase by the same user in EITHER direction (ties go
    backward; same-instant purchases are backward matches by the
    (ts, side, event_id) total order). The TimescaleDB/kdb "nearest"
    as-of flavor, completing the backward (asof_join_last_purchase),
    banded and SCD2 variants.

    Same scale shape as the backward form: ONE shuffle on user_id
    carrying BOTH directions — the backward pass is last_value IGNORE
    NULLS over the preceding frame, the forward pass is first_value
    over the following frame, in the same window partitioning; O(1)
    state per row, never a per-pair range explosion. Deltas compare
    in exact integer microseconds (epoch_us both engines)."""
    e = catalog.load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(0).alias("side")
    )
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side")
    )
    base = (
        W.partitionBy("user_id").orderBy("ts", "side", "event_id")
    )
    wb = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    is_p = F.col("side") == 0
    u = (
        p.unionByName(c)
        .withColumn("bk_ts", F.last(F.when(is_p, F.col("ts")), ignorenulls=True).over(wb))
        .withColumn("fw_ts", F.first(F.when(is_p, F.col("ts")), ignorenulls=True).over(wf))
        .filter(F.col("side") == 1)
    )
    us = F.unix_micros(F.col("ts"))
    bk_d = us - F.unix_micros(F.col("bk_ts"))
    fw_d = F.unix_micros(F.col("fw_ts")) - us
    back_wins = bk_d <= fw_d
    nearest = (
        F.when(F.col("bk_ts").isNull() & F.col("fw_ts").isNull(), F.lit(None).cast("timestamp"))
        .when(F.col("fw_ts").isNull(), F.col("bk_ts"))
        .when(F.col("bk_ts").isNull(), F.col("fw_ts"))
        .when(back_wins, F.col("bk_ts"))
        .otherwise(F.col("fw_ts"))
    )
    direction = (
        F.when(F.col("bk_ts").isNull() & F.col("fw_ts").isNull(), "none")
        .when(F.col("fw_ts").isNull(), "back")
        .when(F.col("bk_ts").isNull(), "fwd")
        .when(back_wins, "back")
        .otherwise("fwd")
    )
    return u.select(
        "event_id",
        "user_id",
        "ts",
        nearest.alias("nearest_purchase_ts"),
        direction.alias("direction"),
        F.least(bk_d, fw_d).cast("bigint").alias("delta_us"),
    ).orderBy("event_id")


@register(
    "pct_weighted_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             CAST(l_quantity AS BIGINT) AS w,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(CAST(l_quantity AS BIGINT))
               OVER (PARTITION BY l_returnflag) AS total
      FROM lineitem)
    SELECT l_returnflag,
           CAST(MAX(total) AS BIGINT) AS total_weight,
           MIN(CASE WHEN 2 * (cum - w) < total AND 2 * cum >= total
                    THEN v END) AS weighted_median
    FROM r GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def pct_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median — the 50% point of the price distribution where
    each row counts l_quantity times (the units-weighted price a
    pricing analyst actually wants; pct_exact_disc is the unweighted
    row-median twin). Selection rule shared bit-for-bit by both
    engines: order by (price, orderkey, linenumber) within the group,
    cumulative weight in EXACT BIGINT (quantities are integral —
    verified 0 fractional at all SFs), and the median is the unique
    row where the running weight crosses half the total, tested as
    2*(cum-w) < total <= 2*cum — pure integer comparisons, NO
    division, no float anywhere until the picked value itself.

    Scale: one hash shuffle by group for the sort-window (the same
    single-exchange shape as pct_exact_disc); the crossing test is a
    per-row predicate on the running sum — no second pass, no
    re-join of the total (window total rides the same sort). At
    100 TB per-group weighted quantiles this exact form is the
    calibration anchor; the fixed-memory path is the weighted
    equi-depth sketch (agg_equidepth_histogram's family)."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    w_ord = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    r = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.col("l_quantity").cast("bigint").alias("w"),
        F.sum(F.col("l_quantity").cast("bigint"))
        .over(w_ord.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
        F.sum(F.col("l_quantity").cast("bigint"))
        .over(W.partitionBy("l_returnflag"))
        .alias("total"),
    )
    pick = F.when(
        (2 * (F.col("cum") - F.col("w")) < F.col("total"))
        & (2 * F.col("cum") >= F.col("total")),
        F.col("v"),
    )
    return (
        r.groupBy("l_returnflag")
        .agg(
            F.max("total").alias("total_weight"),
            F.min(pick).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "anomaly_seasonal_baseline",
    oracle=f"""
    WITH base AS (
      SELECT event_type, EXTRACT(hour FROM ts) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({dec6_sql("value")}) AS DOUBLE)
               / COUNT(*) AS baseline
      FROM events GROUP BY 1, 2),
    flagged AS (
      SELECT e.event_type, EXTRACT(hour FROM e.ts) AS hod, b.n, b.baseline,
             CASE WHEN e.value > 3 * b.baseline THEN 1 ELSE 0 END AS is_anom
      FROM events e
      JOIN base b ON e.event_type = b.event_type
                 AND EXTRACT(hour FROM e.ts) = b.hod)
    SELECT event_type, CAST(hod AS BIGINT) AS hod, MAX(n) AS n_events,
           ROUND(MAX(baseline), 6) AS baseline,
           CAST(SUM(is_anom) AS BIGINT) AS n_anomalies
    FROM flagged GROUP BY event_type, hod
    ORDER BY event_type, hod
    """,
)
def anomaly_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL-BASELINE anomaly profile — the diurnal twin of
    anomaly_rolling_zscore/anomaly_mad_robust_z: the expected value
    per (event_type, hour-of-day) cell (the seasonality a rolling
    window smears across), then every event is scored against ITS
    cell's baseline and the >3x exceedances are counted per cell.
    Baseline = exact-DECIMAL sum / count (one double division —
    bit-shared), so the flag comparison chain is identical on both
    engines.

    Scale: two passes over events — the baseline aggregate (120
    cells: map-side combine, tiny result) and the scoring join
    (broadcast of the 120-row baseline; NO shuffle of the fact side —
    flags fold map-side into the final cell rollup). The same shape
    at 100 TB: per-cell state is calendar-bounded, never data-
    bounded. Streaming twin = the baseline as a static broadcast
    against st_stream_* scoring."""
    ev = catalog.load_table(spark, sf_dir, "events")
    base = ev.groupBy(
        "event_type", F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(dec6("value")).cast("double") / F.count(F.lit(1))).alias("baseline"),
    )
    scored = ev.select(
        "event_type", F.hour("ts").alias("hod"), "value"
    ).join(F.broadcast(base), ["event_type", "hod"])
    return (
        scored.groupBy("event_type", F.col("hod").cast("long").alias("hod"))
        .agg(
            F.max("n").alias("n_events"),
            F.round(F.max("baseline"), 6).alias("baseline"),
            F.sum(
                F.when(F.col("value") > 3 * F.col("baseline"), 1).otherwise(0)
            ).alias("n_anomalies"),
        )
        .orderBy("event_type", "hod")
    )


_XCORR_LAGS = (-2, -1, 0, 1, 2)  # hours; negative = views LAG purchases


def _xcorr_oracle() -> str:
    parts = []
    for lag in _XCORR_LAGS:
        parts.append(f"""
    SELECT {lag} AS lag_hours,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS xcorr
    FROM (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(v.c AS DECIMAL(19,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(p.c AS DECIMAL(19,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(v.c AS DECIMAL(19,6)) * CAST(v.c AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(p.c AS DECIMAL(19,6)) * CAST(p.c AS DECIMAL(19,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(v.c AS DECIMAL(19,6)) * CAST(p.c AS DECIMAL(19,6))) AS DOUBLE) AS sxy
      FROM (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c
            FROM events WHERE event_type = 'view' GROUP BY 1) v
      JOIN (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c
            FROM events WHERE event_type = 'purchase' GROUP BY 1) p
        ON p.h = v.h + {lag} * INTERVAL 1 HOUR)""")
    return " UNION ALL ".join(parts) + " ORDER BY lag_hours"


@register("ts_cross_correlation_lagged", oracle=_xcorr_oracle())
def ts_cross_correlation_lagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAGGED CROSS-CORRELATION between the hourly view and purchase
    series — the lead/lag analysis behind 'does browsing predict
    buying h hours later?': Pearson correlation of the two hourly
    count series at offsets −2..+2 h, using feature_correlation's
    exact-moment technique (integer counts → DECIMAL(19,6) moments →
    one closed double form per lag, 6 dp; correctly-rounded sqrt only
    — no transcendental drift surface). Only jointly-present hours
    enter each lag's moments (inner join), matching the oracle
    row-for-row.

    Scale: the series reduction is one groupBy(hour, type) with
    map-side combine — calendar-sized output regardless of event
    volume; the five lag joins are hour-keyed on that tiny series
    (broadcast), so at 100 TB the cost is the one event scan. The
    full-lag-sweep production form computes every offset in one
    self-joined frame; the fixed five keep the oracle enumerable."""
    ev = catalog.load_table(spark, sf_dir, "events")
    series = materialize(
        ev.filter(F.col("event_type").isin("view", "purchase"))
        .groupBy(
            F.date_trunc("hour", "ts").alias("h"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("c")),
        eager=False,
    )
    v = series.filter(F.col("event_type") == "view").select(
        F.col("h").alias("vh"), F.col("c").cast("decimal(19,6)").alias("x")
    )
    p = series.filter(F.col("event_type") == "purchase").select(
        F.col("h").alias("ph"), F.col("c").cast("decimal(19,6)").alias("y")
    )
    out = None
    for lag in _XCORR_LAGS:
        joined = v.join(
            F.broadcast(p),
            F.col("ph") == F.col("vh") + F.expr(f"INTERVAL {lag} HOUR"),
        )
        m = joined.agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        ).select(
            F.lit(lag).alias("lag_hours"),
            F.round(
                (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / (
                    F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                6,
            ).alias("xcorr"),
        )
        out = m if out is None else out.unionByName(m)
    return out.orderBy("lag_hours")


_IUC_LEN_US = 300_000_000  # each event opens a 5-minute activity interval


@register(
    "ts_interval_union_coverage",
    oracle=f"""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + {_IUC_LEN_US} AS e
      FROM events WHERE user_id < 50),
    w AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      FROM iv)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END)
                AS BIGINT) AS n_islands,
           CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pme, s)), 0)) // 1000
                AS BIGINT) AS covered_ms
    FROM w GROUP BY user_id ORDER BY user_id
    """,
)
def ts_interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERVAL UNION length (sweep line): each event opens a 5-minute
    activity interval; per user, the total length of the UNION of its
    intervals (overlaps merged, not double-counted) plus the island
    count — 'how long was the user actually active' — the measure
    behind billing meters, SLA uptime, and machine-utilization
    rollups, and the continuous-time complement of the row-discrete
    gaps-and-islands streaks (w10). One pass: a per-user window
    carries the running max of PRIOR interval ends, each row then
    contributes max(0, e − max(s, prev_max_end)) — clipping the part
    of itself already covered — and opens a new island iff s strictly
    exceeds every earlier end. All integer microseconds
    (unix_micros/epoch_us), exact on both engines; // 1000 keeps the
    output in integer ms.

    Scale: ONE hash-partitioned window keyed by user (never a global
    sort), constant state per row; at 100 TB this is the sweep-line
    form that replaces the O(n²) interval self-join
    (range_join_interval_overlap documents the join-shaped sibling)."""
    ev = catalog.load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    s = F.unix_micros("ts")
    iv = ev.select(
        "user_id",
        "event_id",
        s.alias("s"),
        (s + F.lit(_IUC_LEN_US)).alias("e"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    wd = iv.select(
        "user_id",
        "s",
        "e",
        F.max("e").over(w).alias("pme"),
    )
    island = F.when(
        F.col("pme").isNull() | (F.col("s") > F.col("pme")), 1
    ).otherwise(0)
    return (
        wd.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(island).alias("n_islands"),
            F.expr(
                "sum(greatest(e - greatest(s, coalesce(pme, s)), 0)) div 1000"
            ).alias("covered_ms"),
        )
        .orderBy("user_id")
    )


@register(
    "ts_gap_fill_linear",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
      FROM events GROUP BY event_type, hour),
    {_HOUR_SPINE_SQL},
    joined AS (
      SELECT s.event_type, s.hour, h.total_value,
             row_number() OVER (PARTITION BY s.event_type ORDER BY s.hour)
               AS rn
      FROM spine s LEFT JOIN hourly h
        ON s.event_type = h.event_type AND s.hour = h.hour),
    ctx AS (
      SELECT event_type, hour, total_value,
             last_value(total_value IGNORE NULLS) OVER wb AS pv,
             last_value(CASE WHEN total_value IS NOT NULL THEN rn END
                        IGNORE NULLS) OVER wb AS prn,
             first_value(total_value IGNORE NULLS) OVER wf AS nv,
             first_value(CASE WHEN total_value IS NOT NULL THEN rn END
                         IGNORE NULLS) OVER wf AS nrn,
             rn
      FROM joined
      WINDOW wb AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY event_type ORDER BY hour
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           (total_value IS NULL) AS filled,
           CASE WHEN total_value IS NOT NULL THEN ROUND(total_value, 6)
                WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                  ROUND(pv + (nv - pv) * (CAST(rn - prn AS DOUBLE)
                                          / (nrn - prn)), 6)
                ELSE NULL END AS total_value_interp
    FROM ctx ORDER BY event_type, hour
    """,
)
def ts_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with LINEAR INTERPOLATION — the companion
    to ts_gap_fill_locf for quantities that trend between observations
    (sensor readings, balances) rather than hold (status): each
    missing hour on the dense per-key spine gets the straight-line
    value between its nearest observed neighbors; hours before the
    first or after the last observation stay NULL (strict
    interpolation, no extrapolation — LOCF is the variant that
    extends). Interpolation positions are ROW NUMBERS on the hourly
    spine (dense, so rows == hours): integer gap distances feed one
    double division and one multiply-add, the identical expression
    tree on both engines, 6-dp round — no timestamp arithmetic that a
    timezone or DST convention could skew.

    Scale: identical shape to LOCF — the fact scan collapses to the
    hourly aggregate first (map-side partial), the spine is generated
    distributed (sequence + explode per key), and both neighbor
    lookups are the SAME (key, hour) window pass — hours-per-key
    state, sharded by key."""
    e = catalog.load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.sum(dec6("value")).cast("double").alias("total_value"))
    j = _hour_spine(e).join(hourly, ["event_type", "hour"], "left").withColumn(
        "rn", F.row_number().over(W.partitionBy("event_type").orderBy("hour"))
    )
    wb = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    obs_rn = F.when(F.col("total_value").isNotNull(), F.col("rn"))
    ctx = j.select(
        "event_type",
        "hour",
        "total_value",
        "rn",
        F.last("total_value", ignorenulls=True).over(wb).alias("pv"),
        F.last(obs_rn, ignorenulls=True).over(wb).alias("prn"),
        F.first("total_value", ignorenulls=True).over(wf).alias("nv"),
        F.first(obs_rn, ignorenulls=True).over(wf).alias("nrn"),
    )
    interp = (
        F.when(F.col("total_value").isNotNull(), F.round(F.col("total_value"), 6))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.round(
                F.col("pv")
                + (F.col("nv") - F.col("pv"))
                * (
                    (F.col("rn") - F.col("prn")).cast("double")
                    / (F.col("nrn") - F.col("prn"))
                ),
                6,
            ),
        )
        .otherwise(F.lit(None).cast("double"))
    )
    return ctx.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.col("total_value").isNull().alias("filled"),
        interp.alias("total_value_interp"),
    ).orderBy("event_type", "hour")


@register(
    "ts_cusum_changepoint",
    oracle=f"""
    WITH e AS (
      SELECT event_type, ts, event_id, {money_sql("value")} AS v
      FROM events),
    c AS (
      SELECT event_type, ts, event_id,
             CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DECIMAL(28,2)) AS cum_v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS t,
             CAST(SUM(v) OVER (PARTITION BY event_type) AS DECIMAL(28,2)) AS tot,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM e),
    s AS (
      SELECT event_type, ts, event_id, t, n,
             ABS(CAST(cum_v * CAST(n AS DECIMAL(9,0)) AS DECIMAL(38,2))
                 - CAST(tot * CAST(t AS DECIMAL(9,0)) AS DECIMAL(38,2)))
               AS num
      FROM c),
    r AS (
      SELECT event_type, ts, t, n, num,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY num DESC, ts, event_id) AS rk
      FROM s)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS cp_ts,
           CAST(t AS BIGINT) AS cp_pos,
           ROUND(CAST(num AS DOUBLE) / n, 6) AS max_cusum_dev
    FROM r WHERE rk = 1 ORDER BY event_type
    """,
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT detection per monitored series — "when did
    the level shift": the cumulative-sum statistic S_t = Σ_{i≤t}(v_i −
    v̄) peaks (in |·|) at the most likely mean-shift point, the
    classical offline CUSUM scan every metric-monitoring stack runs
    over daily pipelines. Reported per event_type: the argmax
    timestamp, its position, and the peak deviation. On this
    stationary synthetic stream the peak is small random-walk
    excursion — the null baseline, same discipline as DiD/KS.

    Exactness: S_t needs the mean, so it is evaluated as the exact
    integer-style numerator n·cum_t − t·total in DECIMAL(38,2)
    (cumulative DECIMAL sums are order-exact; products carry explicit
    casts so both engines hit the same precision), argmax is a
    decimal comparison with a total (ts, event_id) tiebreak, and ONE
    double division per series at presentation (6-dp round).

    Scale: one hash-partitioned window pass per series — state is the
    running decimal pair, shuffle carries each event into its series
    shard exactly once (the sessionize exchange). Five series here;
    production monitors per (entity, metric) — thousands of shards,
    same plan."""
    e = catalog.load_table(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", money("value").alias("v")
    )
    wc = (
        W.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("event_type")
    c = e.select(
        "event_type",
        "ts",
        "event_id",
        F.sum("v").over(wc).cast("decimal(28,2)").alias("cum_v"),
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("ts", "event_id"))
        .alias("t"),
        F.sum("v").over(wp).cast("decimal(28,2)").alias("tot"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    num = F.abs(
        (F.col("cum_v") * F.col("n").cast("decimal(9,0)")).cast("decimal(38,2)")
        - (F.col("tot") * F.col("t").cast("decimal(9,0)")).cast("decimal(38,2)")
    )
    r = c.select(
        "event_type",
        "ts",
        "t",
        "n",
        num.alias("num"),
        F.row_number()
        .over(
            W.partitionBy("event_type").orderBy(
                num.desc(), F.col("ts"), F.col("event_id")
            )
        )
        .alias("rk"),
    )
    # Domain guard (ADVICE r10): the n/t factors ride DECIMAL(9,0), so
    # a series past 1e9 events would overflow. Spark 4 runs ANSI-on by
    # default, so overflow would already throw (NUMERIC_VALUE_OUT_OF_
    # RANGE) rather than return NULL — the guard exists for a CLEAR,
    # engine-symmetric message at the same bound DuckDB errors at, not
    # to catch silent NULLs (ADVICE r11 #3); a >1e9
    # deployment widens v to DECIMAL(9,2)/cum to DECIMAL(19,2) so n
    # can carry DECIMAL(19,0) inside precision 38.
    guard = F.assert_true(
        F.col("n") < F.lit(1_000_000_000),
        F.lit("ts_cusum_changepoint: series exceeds the 1e9-event DECIMAL(9,0) bound"),
    )
    return (
        r.filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.when(guard.isNull(), F.col("n").cast("bigint")).alias("n_events"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("cp_ts"),
            F.col("t").cast("bigint").alias("cp_pos"),
            F.round(F.col("num").cast("double") / F.col("n"), 6).alias(
                "max_cusum_dev"
            ),
        )
        .orderBy("event_type")
    )


_ROLL_W = 24  # trailing observations per rolling fit


@register(
    "ts_rolling_regression_slope",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             {dec6_sql(f"SUM({dec6_sql('value')})")} AS y
      FROM events GROUP BY event_type, hour),
    idx AS (
      SELECT event_type, hour, y,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY hour)
                  AS BIGINT) AS t
      FROM hourly),
    wsum AS (
      SELECT event_type, hour,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(t) OVER w AS BIGINT) AS st,
             CAST(SUM(t * t) OVER w AS BIGINT) AS stt,
             CAST(SUM(y) OVER w AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(t AS DECIMAL(10,0)) * y AS DECIMAL(31,6)))
                  OVER w AS DOUBLE) AS sty
      FROM idx
      WINDOW w AS (PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN {_ROLL_W - 1} PRECEDING AND CURRENT ROW))
    SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           ROUND((n * sty - st * sy) / (n * stt - st * st), 6) AS slope
    FROM wsum WHERE n = {_ROLL_W} ORDER BY event_type, hour
    """,
)
def ts_rolling_regression_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING OLS TREND — the slope of a least-squares line over the
    trailing 24 hourly observations per series: the standard
    trend-detection readout between raw deltas (too noisy) and a full
    model (too heavy), feeding alerting ("metric decaying for 24h")
    and feature pipelines (trend-at-time-t features). The time axis is
    the OBSERVATION RANK (row_number over the series), so the fit is
    per-observation trend and no timezone/DST convention can skew the
    two engines.

    Exactness: inside each frame every sum is exact — t and t·t are
    BIGINTs, y is an exact DECIMAL hourly total, t·y an exact DECIMAL
    product — and the closed-form slope is one double expression over
    identical inputs, 6-dp round. Only full 24-point windows emit
    (partial-window slopes are a different statistic).

    Scale: the fact scan collapses to the hourly aggregate first
    (map-side partial); ONE (series)-sharded window pass computes all
    five frame sums together — state is the 24-row frame, shuffle is
    the hourly-aggregate exchange the gap-fill family already
    measured (SCALE.md)."""
    e = catalog.load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(dec6(F.sum(dec6("value"))).alias("y"))
    idx = hourly.withColumn(
        "t",
        F.row_number()
        .over(W.partitionBy("event_type").orderBy("hour"))
        .cast("bigint"),
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-(_ROLL_W - 1), W.currentRow)
    )
    ws = idx.select(
        "event_type",
        "hour",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n"),
        F.sum("t").over(w).cast("bigint").alias("st"),
        F.sum(F.col("t") * F.col("t")).over(w).cast("bigint").alias("stt"),
        F.sum("y").over(w).cast("double").alias("sy"),
        F.sum((F.col("t").cast("decimal(10,0)") * F.col("y")).cast("decimal(31,6)"))
        .over(w)
        .cast("double")
        .alias("sty"),
    )
    n, st, stt, sy, sty = (
        F.col("n"),
        F.col("st"),
        F.col("stt"),
        F.col("sy"),
        F.col("sty"),
    )
    return (
        ws.filter(n == _ROLL_W)
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.round((n * sty - st * sy) / (n * stt - st * st), 6).alias("slope"),
        )
        .orderBy("event_type", "hour")
    )


@register(
    "ts_var_expected_shortfall",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             {money_cents_sql("value")} AS cents,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, cents),
    c AS (
      SELECT event_type, cents, cnt,
             SUM(cnt) OVER (PARTITION BY event_type ORDER BY cents DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             SUM(CAST(cents AS DECIMAL(19,0)) * cnt) OVER (
               PARTITION BY event_type ORDER BY cents DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s,
             SUM(cnt) OVER (PARTITION BY event_type) AS n
      FROM g),
    k AS (
      SELECT event_type, cents, cnt, c, s, n, (n + 99) // 100 AS k
      FROM c),
    hit AS (
      SELECT event_type, n, k, cents,
             CAST(s - CAST(cents AS DECIMAL(19,0)) * cnt
                  + CAST(cents AS DECIMAL(19,0)) * (k - (c - cnt))
                  AS DOUBLE) AS tail_sum
      FROM k WHERE c >= k AND c - cnt < k)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(cents AS DOUBLE) / 100, 2) AS var_99,
           ROUND(tail_sum / (k * 100.0), 6) AS es_99
    FROM hit ORDER BY event_type
    """,
)
def ts_var_expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-AT-RISK (p99) and EXPECTED SHORTFALL per monitored
    series — the tail-risk pair behind cost/latency/fraud alerting:
    VaR_99 is the smallest value such that at most 1% of events
    exceed it; ES_99 is the MEAN of that worst 1% (the coherent risk
    measure Basel replaced VaR with, and the better alerting signal
    because it sees how bad the tail is, not just where it starts).

    Exactness: both ride the per-cent VALUE HISTOGRAM (the
    roc_auc/ks saturating trick): per (series, cents) counts, one
    descending cumulative window per series, tail size k =
    (n+99) div 100 (integer-division parity is by construction —
    r10 probe), and the unique histogram row where the cumulative
    count first reaches k yields VaR; ES's tail sum consumes that
    boundary row PARTIALLY — (k − cum_above) copies — keeping the
    top-k mean exact under ties, all in DECIMAL(19,0)·BIGINT
    integer arithmetic with ONE double division per series.

    Scale: the window input is |distinct cents per series| (bounded
    by value precision), never raw events — the fact table
    contributes only map-side histogram partials at 100 TB."""
    ev = catalog.load_table(spark, sf_dir, "events")
    g = (
        ev.select(
            "event_type",
            money_cents("value").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wd = (
        W.partitionBy("event_type")
        .orderBy(F.col("cents").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wp = W.partitionBy("event_type")
    c = g.select(
        "event_type",
        "cents",
        "cnt",
        F.sum("cnt").over(wd).alias("c"),
        F.sum(F.col("cents").cast("decimal(19,0)") * F.col("cnt"))
        .over(wd)
        .alias("s"),
        F.sum("cnt").over(wp).alias("n"),
    ).withColumn("k", F.expr("(n + 99) div 100"))
    hit = c.filter(
        (F.col("c") >= F.col("k")) & (F.col("c") - F.col("cnt") < F.col("k"))
    ).select(
        "event_type",
        "n",
        "k",
        "cents",
        (
            F.col("s")
            - F.col("cents").cast("decimal(19,0)") * F.col("cnt")
            + F.col("cents").cast("decimal(19,0)")
            * (F.col("k") - (F.col("c") - F.col("cnt")))
        )
        .cast("double")
        .alias("tail_sum"),
    )
    return hit.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("cents").cast("double") / 100, 2).alias("var_99"),
        F.round(F.col("tail_sum") / (F.col("k") * F.lit(100.0)), 6).alias(
            "es_99"
        ),
    ).orderBy("event_type")


_ACF_LAGS = (1, 24)  # adjacent-hour persistence + daily seasonality


@register(
    "ts_acf_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM({money_sql("value")}) * 100 AS BIGINT) AS y
      FROM events GROUP BY event_type, hour),
    idx AS (
      SELECT event_type, y,
             row_number() OVER (PARTITION BY event_type ORDER BY hour) AS t,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,0)))
                  OVER (PARTITION BY event_type) AS DECIMAL(38,0)) AS s,
             CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0)))
                  OVER (PARTITION BY event_type) AS DECIMAL(38,0)) AS ss
      FROM hourly),
    lagged AS (
      SELECT i.event_type, l.lag, i.n, i.s, i.ss,
             CAST(SUM(CAST(i.y AS DECIMAL(19,0)) * CAST(j.y AS DECIMAL(19,0)))
                  AS DECIMAL(38,0)) AS syy,
             CAST(SUM(CAST(i.y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sh,
             CAST(SUM(CAST(j.y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS st,
             CAST(COUNT(*) AS BIGINT) AS np
      FROM idx i
      JOIN (SELECT UNNEST(ARRAY{list(_ACF_LAGS)}) AS lag) l ON TRUE
      JOIN idx j ON j.event_type = i.event_type AND j.t = i.t + l.lag
      GROUP BY i.event_type, l.lag, i.n, i.s, i.ss)
    SELECT event_type, lag, n AS n_hours, np AS n_pairs,
           ROUND((CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                  - CAST(n AS DOUBLE) * CAST(s AS DOUBLE)
                    * (CAST(sh AS DOUBLE) + CAST(st AS DOUBLE))
                  + CAST(np AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
                    - CAST(n AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE)),
                 6) AS acf
    FROM lagged ORDER BY event_type, lag
    """,
)
def ts_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTOCORRELATION of each hourly revenue series at lags 1 and 24
    — the seasonality detector: r_1 measures hour-to-hour
    persistence, r_24 the daily cycle; together they are the
    standard pre-model screen for "does this metric need a seasonal
    term" and the feature pair fed to forecasting models. Companion
    to ts_cross_correlation_lagged (which correlates two DIFFERENT
    series): ACF is the self-lag structure of one series.

    Exactness: the textbook r_k = Σ(y_t−ȳ)(y_{t+k}−ȳ) / Σ(y_t−ȳ)²
    is evaluated with the mean CLEARED — multiply through by n²:
    num = n²·Σy_t·y_{t+k} − n·s·(Σ_head y + Σ_tail y) + n_pairs·s²,
    den = n²·Σy² − n·s² — every term an exact DECIMAL(38,0) integer
    (y in hourly cents; at sf0.1 |y| < 1e9, n < 1e4, so n²·Σyy <
    1e31; headroom to ~1e5 hours × 1e12-cent hourly sums), then ONE
    double expression per (series, lag), identical trees both
    engines, 6-dp round. No float cumsum, no mean subtraction.

    Scale: the hourly-aggregate-first collapse (the
    rolling-regression exchange): the fact table reduces map-side to
    calendar-sized series; the self-join on (series, t+lag) moves
    |hours| rows per lag. The n² clearing caps n at ~1e9 hours
    before DECIMAL(38) binds — 100k years of hourly data."""
    ev = catalog.load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour"))
        .agg((F.sum(money("value")) * 100).cast("bigint").alias("y"))
    )
    wp = W.partitionBy("event_type")
    idx = hourly.select(
        "event_type",
        "y",
        F.row_number().over(wp.orderBy("hour")).alias("t"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
        F.sum(F.col("y").cast("decimal(38,0)")).over(wp).alias("s"),
        F.sum(F.col("y").cast("decimal(19,0)") * F.col("y").cast("decimal(19,0)"))
        .over(wp)
        .cast("decimal(38,0)")
        .alias("ss"),
    )
    i = idx.withColumn(
        "lag", F.explode(F.array(*[F.lit(l) for l in _ACF_LAGS]))
    ).alias("i")
    j = idx.alias("j")
    lagged = (
        i.join(
            j,
            (F.col("j.event_type") == F.col("i.event_type"))
            & (F.col("j.t") == F.col("i.t") + F.col("lag")),
        )
        .groupBy("i.event_type", "lag", "i.n", "i.s", "i.ss")
        .agg(
            F.sum(
                F.col("i.y").cast("decimal(19,0)")
                * F.col("j.y").cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("syy"),
            F.sum(F.col("i.y").cast("decimal(38,0)")).alias("sh"),
            F.sum(F.col("j.y").cast("decimal(38,0)")).alias("st"),
            F.count(F.lit(1)).cast("bigint").alias("np"),
        )
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    acf = (
        n * n * F.col("syy").cast("double")
        - n * s * (F.col("sh").cast("double") + F.col("st").cast("double"))
        + F.col("np").cast("double") * s * s
    ) / (n * n * F.col("ss").cast("double") - n * s * s)
    return lagged.select(
        F.col("i.event_type").alias("event_type"),
        "lag",
        F.col("n").alias("n_hours"),
        F.col("np").alias("n_pairs"),
        F.round(acf, 6).alias("acf"),
    ).orderBy("event_type", "lag")


@register(
    "ts_seasonal_profile",
    oracle="""
    SELECT event_type,
           CAST(EXTRACT(dow FROM ts) * 24 + EXTRACT(hour FROM ts)
                AS BIGINT) AS how,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(19,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_value,
           ROUND((COUNT(*) * CAST(SUM(CAST(value AS DECIMAL(19,6))
                                      * CAST(value AS DECIMAL(19,6)))
                                  AS DOUBLE)
                  - CAST(SUM(CAST(value AS DECIMAL(19,6))) AS DOUBLE)
                    * CAST(SUM(CAST(value AS DECIMAL(19,6))) AS DOUBLE))
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*)), 6) + 0.0
             AS var_value
    FROM events
    GROUP BY event_type, how
    ORDER BY event_type, how
    """,
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEASONAL PROFILE DECOMPOSITION per series — the hour-of-week
    baseline (VERDICT r11 #6): for every (event_type, hour-of-week)
    cell, the event count, the seasonal mean, and the RESIDUAL
    (within-cell) population variance — what remains after the
    weekly seasonality is removed, the noise floor an anomaly
    detector thresholds against. Complements
    anomaly_seasonal_baseline's hour-of-day means with the full
    168-cell weekly grid and the second moment.

    Exactness: hour-of-week uses Spark's ``dayofweek - 1`` to match
    DuckDB's ``EXTRACT(dow)`` (both Sunday-0); value sums and
    square-sums ride exact DECIMAL(19,6) (products stay inside
    DuckDB's 38-digit multiply bound), are cast to double once, and
    the mean / population-variance closed forms run on identical
    double expression trees with one 6-dp presentation round — the
    ts_cross_correlation_lagged discipline.

    Scale: ONE pass over events with map-side combine into at most
    168 x |event_type| calendar-bounded cells — per-cell state is
    never data-sized, the same argument as anomaly_seasonal_baseline.
    At 100 TB this is the canonical pre-aggregation a seasonal
    forecast or anomaly layer maintains incrementally."""
    ev = catalog.load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(19,6)")
    g = ev.groupBy(
        "event_type",
        ((F.dayofweek("ts") - 1) * 24 + F.hour("ts"))
        .cast("bigint")
        .alias("how"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(v).alias("sx"),
        F.sum(v * v).alias("sxx"),
    )
    n = F.col("n_events")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    return g.select(
        "event_type",
        "how",
        "n_events",
        F.round(sx / n, 6).alias("mean_value"),
        # + 0.0 collapses IEEE -0.0 (single-event cells cancel to a
        # tiny negative before the round) to +0.0 on BOTH engines.
        (
            F.round((n * sxx - sx * sx) / (n.cast("double") * n), 6)
            + F.lit(0.0)
        ).alias("var_value"),
    ).orderBy("event_type", "how")


@register(
    "ts_theil_sen_slope",
    oracle=f"""
    WITH daily AS (
      SELECT event_type,
             DATE_DIFF('day', DATE '1970-01-01',
                       CAST(date_trunc('day', ts) AS DATE)) AS d,
             CAST(SUM({money_cents_sql("value")})
                  AS BIGINT) AS cents
      FROM events GROUP BY event_type, d),
    pairs AS (
      SELECT i.event_type,
             j.cents - i.cents AS num_c,
             j.d - i.d AS den_d,
             CAST(j.cents - i.cents AS DOUBLE)
               / CAST((j.d - i.d) * 100 AS DOUBLE) AS sl
      FROM daily i JOIN daily j
        ON j.event_type = i.event_type AND j.d > i.d),
    ranked AS (
      SELECT event_type, sl,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY sl, num_c, den_d) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs),
    nd AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days
           FROM daily GROUP BY event_type)
    SELECT r.event_type, nd.n_days, CAST(r.np AS BIGINT) AS n_pairs,
           ROUND(r.sl, 6) AS sen_slope_per_day
    FROM ranked r JOIN nd ON nd.event_type = r.event_type
    WHERE r.rn = (r.np + 1) // 2
    ORDER BY r.event_type
    """,
)
def ts_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN ROBUST TREND per series — the median of all pairwise
    slopes of the DAILY value totals: the robust-regression companion
    to ts_rolling_regression_slope's least-squares line, immune to
    ~29% outlier contamination (a single flash-sale day cannot bend
    it). The classic nonparametric trend estimator (Theil 1950, Sen
    1968) every monitoring stack offers next to OLS.

    Exactness: daily totals are exact BIGINT cents (per-row
    DECIMAL(18,2)*100 quantization — the Mann-Whitney discipline);
    each pairwise slope is ONE correctly-rounded double division of
    exact integers (num_c / (den_d*100)), so both engines hold
    bit-identical slope values; the median element is selected by the
    TOTAL order (sl, num_c, den_d) at lower-median position
    (np+1) div 2 — integer-division-parity-safe — and rounded 6 dp
    only at presentation.

    Scale: the fact table collapses FIRST to |days| x |series| daily
    rows (map-side combine), and only that calendar-bounded frame
    self-joins — |days|²/2 pairs per series (66k at a decade of
    daily grain), sharded by series via the partitioned window,
    never event-sized. The same two-phase shape as the sharded
    skyline: aggregate-then-quadratic on the bounded domain."""
    ev = catalog.load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.to_date(F.lit("1970-01-01")),
        ).alias("d"),
    ).agg(
        F.sum(
            money_cents("value")
        )
        .cast("bigint")
        .alias("cents")
    )
    i, j = daily.alias("i"), daily.alias("j")
    pairs = i.join(
        j,
        (F.col("j.event_type") == F.col("i.event_type"))
        & (F.col("j.d") > F.col("i.d")),
    ).select(
        F.col("i.event_type").alias("event_type"),
        (F.col("j.cents") - F.col("i.cents")).alias("num_c"),
        (F.col("j.d") - F.col("i.d")).alias("den_d"),
        (
            (F.col("j.cents") - F.col("i.cents")).cast("double")
            / ((F.col("j.d") - F.col("i.d")) * 100).cast("double")
        ).alias("sl"),
    )
    wr = W.partitionBy("event_type").orderBy("sl", "num_c", "den_d")
    ranked = pairs.select(
        "event_type",
        "sl",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(W.partitionBy("event_type")).alias("np"),
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        ranked.filter(F.col("rn") == F.expr("(np + 1) div 2"))
        .join(F.broadcast(nd), "event_type")
        .select(
            "event_type",
            "n_days",
            F.col("np").cast("bigint").alias("n_pairs"),
            F.round("sl", 6).alias("sen_slope_per_day"),
        )
        .orderBy("event_type")
    )
