"""Event-time windowing over the events table (SURVEY.md §2.12): the
batch forms of tumbling / sliding / session windows. The same
`F.window` / `F.session_window` expressions run unchanged under
Structured Streaming (see streaming/pipelines.py); batch mode makes
them oracle-checkable in DuckDB (epoch arithmetic for the grids,
gap-and-island SQL for sessions).

Sums over event values go through exact DECIMAL(20,6) so partition
order can't skew the doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import dec6, dec6_sql
from sales_agent_graphdb_spark.registry import register

# Batch oracles; the streaming twins in streaming_exec.py register the
# same constants, so batch/stream parity is one SQL text per window kind.
TUMBLING_ORACLE = f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """
SLIDING_ORACLE = f"""
    WITH g AS (SELECT unnest([0, 1]) AS k),
    w AS (
      SELECT e.event_type, e.value,
             to_timestamp((floor(epoch(e.ts))::BIGINT // 1800 - g.k) * 1800) AS window_start
      FROM events e, g
      WHERE floor(epoch(e.ts))::BIGINT // 1800 - g.k >= 0)
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM w
    GROUP BY 1, 2 ORDER BY 1, 2
    """
SESSION_ORACLE = f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events),
    islands AS (
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM ordered)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM islands
    GROUP BY user_id, session_no
    ORDER BY user_id, session_start
    """


@register("st_tumbling_window", oracle=TUMBLING_ORACLE)
def st_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (counts + exact sums) —
    identical code path to the streaming pipeline, minus watermark."""
    e = catalog.load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register("st_sliding_window", oracle=SLIDING_ORACLE)
def st_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows: 1-hour length, 30-minute slide — every event
    lands in 2 windows (F.window duplicates rows; the oracle mirrors
    the grid with epoch arithmetic)."""
    e = catalog.load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register("st_session_window", oracle=SESSION_ORACLE)
def st_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 30-minute inactivity gap
    (`F.session_window`, the reference's Redis-TTL/session semantics in
    event time). The DuckDB oracle is classic gap-and-island SQL —
    DuckDB has no session_window primitive (SURVEY.md §7e)."""
    e = catalog.load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "st_late_data_policy",
    oracle="""
    WITH mx AS (SELECT max(ts) AS m FROM events)
    SELECT strftime(date_trunc('hour', e.ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events
    FROM events e, mx
    WHERE e.ts >= m - INTERVAL 2 HOUR
    GROUP BY 1 ORDER BY 1
    """,
)
def st_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark semantics, batch-checkable slice: only events within
    the watermark horizon (2 h of max event time) are aggregated —
    the same cutoff `withWatermark("ts", "2 hours")` enforces on a
    stream (late rows beyond it are dropped)."""
    e = catalog.load_table(spark, sf_dir, "events")
    horizon = e.agg(F.max("ts").alias("m"))
    return (
        e.join(F.broadcast(horizon))
        .filter(F.col("ts") >= F.col("m") - F.expr("INTERVAL 2 HOURS"))
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
        )
        .orderBy("window_start")
    )


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'view' AND e.ts > s1.t1
        AND e.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        AND e.ts <= s2.t2 + INTERVAL 1 DAY GROUP BY e.user_id)
    SELECT CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM s2) AS BIGINT) AS n_view_after_signup,
           CAST((SELECT COUNT(*) FROM s3) AS BIGINT) AS n_purchase_after_view
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential conversion funnel (signup → first view within 1 day
    AFTER signup → first purchase within 1 day AFTER that view) — the
    product-analytics sequence query windowing alone can't express
    (each stage's anchor depends on the previous stage's result, and
    the conversion window makes stage counts strictly informative:
    150 → 39 → 15 at sf0.01). Three stage aggregations, each joined
    to the previous stage's per-user anchor time; stage tables shrink
    monotonically, so joins 2 and 3 broadcast their anchor side. At
    100 TB each stage is one map-side-combinable groupBy on user_id —
    the classic funnel shape, never a per-user sort or collect."""
    e = catalog.load_table(spark, sf_dir, "events")

    def stage(prev: DataFrame | None, etype: str) -> DataFrame:
        src = e.filter(F.col("event_type") == etype)
        if prev is not None:
            src = src.join(F.broadcast(prev), "user_id").filter(
                (F.col("ts") > F.col("t_prev"))
                & (F.col("ts") <= F.col("t_prev") + F.expr("INTERVAL 1 DAY"))
            )
        return src.groupBy("user_id").agg(F.min("ts").alias("t_prev"))

    s1 = stage(None, "signup")
    s2 = stage(s1, "view")
    s3 = stage(s2, "purchase")
    counts = [
        df.agg(F.count(F.lit(1)).cast("long").alias(name))
        for df, name in (
            (s1, "n_signup"),
            (s2, "n_view_after_signup"),
            (s3, "n_purchase_after_view"),
        )
    ]
    return counts[0].crossJoin(counts[1]).crossJoin(counts[2])


@register(
    "retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(floor((epoch(CAST(date_trunc('week', e.ts) AS TIMESTAMP))
                         - epoch(CAST(f.cohort_week AS TIMESTAMP)))
                        / 604800.0) AS BIGINT) AS week_offset
      FROM events e JOIN first_seen f USING (user_id))
    SELECT strftime(cohort_week, '%Y-%m-%d') AS cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity
    GROUP BY cohort_week, week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — users grouped by first-seen week,
    counted per week-offset of later activity: the standard retention
    analysis every events pipeline serves. Two aggregations and one
    broadcast-able join on user_id (the cohort table is one row per
    user — at 100 TB it shards by user hash and the join stays
    co-partitioned with the events scan). DISTINCT before the count
    dedups multiple events in the same week; week arithmetic is exact
    integer epoch math, so the oracle matches bit-for-bit."""
    e = catalog.load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                (
                    F.unix_timestamp(F.date_trunc("week", F.col("ts")))
                    - F.unix_timestamp(F.col("cohort_week"))
                )
                / F.lit(604800.0)
            ).alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "rollup_hierarchy",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def rollup_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.12 extension — HIERARCHICAL time rollup (the TimescaleDB
    continuous-aggregate / OLAP cube-refresh pattern): the daily grain
    is computed FROM THE HOURLY AGGREGATE, never from raw — at 100 TB
    the hourly table is ~1/1000th of the events and each coarser grain
    reuses the finer materialization, so a day re-rollup touches 24
    rows per key instead of a day of raw data. Totals stay DECIMAL
    through the chain (sum-of-partial-sums is exact integer
    arithmetic, so regrouping cannot change the result), which is what
    the direct-from-raw oracle certifies: a bit-exact match proves the
    two-level rollup loses nothing."""
    e = catalog.load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec6("value")).alias("total_dec"),
    )
    daily = hourly.groupBy(
        F.date_trunc("day", F.col("hour")).alias("day_t"), "event_type"
    ).agg(
        F.sum("n_events").alias("n_events"),
        F.sum("total_dec").cast("double").alias("total_value"),
    )
    return daily.select(
        F.date_format("day_t", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# Cumulative distinct users — the "running COUNT(DISTINCT)" that SQL
# window frames cannot express directly (COUNT(DISTINCT) OVER a
# running frame is unsupported in both engines, and the naive
# re-aggregate-per-day form is O(days · events)). The scale-correct
# rewrite: distinct is FIRST-TOUCH — a user contributes to the
# cumulative count exactly once, on their first day — so the query is
# one groupBy(user) min(day), one count per day, and a prefix sum
# over the DAY-level frame.
# ---------------------------------------------------------------------------


@register(
    "w9_cumulative_distinct_users",
    oracle="""
    WITH fd AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY user_id),
    nu AS (SELECT first_day AS day, COUNT(*) AS n FROM fd GROUP BY 1),
    du AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(DISTINCT user_id) AS n
      FROM events GROUP BY 1)
    SELECT du.day,
           CAST(du.n AS BIGINT) AS daily_users,
           CAST(COALESCE(nu.n, 0) AS BIGINT) AS new_users,
           CAST(SUM(COALESCE(nu.n, 0)) OVER (
                ORDER BY du.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_users
    FROM du LEFT JOIN nu ON du.day = nu.day
    ORDER BY du.day
    """,
)
def w9_cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running distinct-user count per day (daily actives, new users,
    cumulative uniques) via the first-touch rewrite: min(day) per user
    → new-user counts per day → prefix sum.

    Scale: the event table is touched by exactly TWO
    map-side-combinable aggregations (per-user min, per-day distinct);
    the window runs over the |days|-sized daily frame only — the same
    bounded-frame exception as the vocab rank (text_vocab_build),
    never a window over events. The naive alternative (re-aggregating
    the growing prefix per day, or a running COUNT DISTINCT frame) is
    O(days · events) and is the shape this rewrite exists to kill at
    100 TB."""
    ev = catalog.load_table(spark, sf_dir, "events")
    day = F.to_date(F.col("ts")).alias("day")
    fd = (
        ev.select("user_id", day)
        .groupBy("user_id")
        .agg(F.min("day").alias("first_day"))
    )
    nu = fd.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_n")
    )
    du = (
        ev.select("user_id", day)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("daily_users"))
    )
    from pyspark.sql import Window as W

    joined = du.join(nu, "day", "left").select(
        "day",
        "daily_users",
        F.coalesce(F.col("new_n"), F.lit(0)).cast("bigint").alias("new_users"),
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        joined.withColumn("cum_users", F.sum("new_users").over(w).cast("bigint"))
        .orderBy("day")
    )


_ATTR_HOURS = 72


@register(
    "attr_multi_touch_credit",
    oracle=f"""
    WITH views AS (SELECT user_id, event_id AS view_id, ts AS view_ts
                   FROM events WHERE event_type = 'view'),
    buys AS (SELECT user_id, event_id AS purchase_id, ts AS buy_ts, value AS val
             FROM events WHERE event_type = 'purchase'),
    j AS (SELECT v.view_id, v.view_ts, b.purchase_id, b.val
          FROM views v JOIN buys b ON v.user_id = b.user_id
           AND v.view_ts BETWEEN b.buy_ts - INTERVAL {_ATTR_HOURS} HOUR AND b.buy_ts),
    ranked AS (SELECT *,
                      ROW_NUMBER() OVER (PARTITION BY purchase_id
                                         ORDER BY view_ts, view_id) AS rk,
                      COUNT(*) OVER (PARTITION BY purchase_id) AS n FROM j),
    cr AS (SELECT view_id,
                  CAST(val * (CASE WHEN n = 1 THEN 1.0
                                   WHEN n = 2 THEN 0.5
                                   WHEN rk = 1 THEN 0.4
                                   WHEN rk = n THEN 0.4
                                   ELSE CAST(0.2 AS DOUBLE) / (n - 2)
                              END) AS DECIMAL(20,8)) AS credit
           FROM ranked)
    SELECT view_id, CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(credit) AS DOUBLE) AS credit
    FROM cr GROUP BY view_id ORDER BY view_id
    """,
)
def attr_multi_touch_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) MULTI-TOUCH ATTRIBUTION — the credit-
    allocation class none of the funnel/cohort/session queries reach:
    each purchase's value is distributed over the user's view touches
    in the preceding {hours}h — 40% first touch, 40% last, 20% split
    across the middles (1.0 / 0.5-0.5 for single/double-touch paths) —
    and every view accumulates credit across all conversions it
    assisted. One interval join (the verified attribution join shape)
    + one per-purchase rank window + a per-view rollup; at 100 TB the
    join and window both shard by user/purchase keys and nothing is
    quadratic. Credit shares are computed with the same double
    operations on both engines and quantized to DECIMAL(20,8) BEFORE
    the cross-conversion sum, so summation order cannot move a
    view's total."""
    ev = catalog.load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("buy_ts"),
        F.col("value").alias("val"),
    )
    j = views.join(
        buys,
        (F.col("v_user") == F.col("b_user"))
        & F.col("view_ts").between(
            F.col("buy_ts") - F.expr(f"INTERVAL {_ATTR_HOURS} HOUR"), F.col("buy_ts")
        ),
    )
    w = Window.partitionBy("purchase_id").orderBy("view_ts", "view_id")
    ranked = j.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("purchase_id")).alias("n"),
    )
    share = (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when(F.col("rk") == 1, F.lit(0.4))
        .when(F.col("rk") == F.col("n"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    cr = ranked.select(
        "view_id", (F.col("val") * share).cast("decimal(20,8)").alias("credit")
    )
    return (
        cr.groupBy("view_id")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("credit").cast("double").alias("credit"),
        )
        .orderBy("view_id")
    )


attr_multi_touch_credit.__doc__ = attr_multi_touch_credit.__doc__.format(
    hours=_ATTR_HOURS
)


_GAP_S = 1800  # 30-minute inactivity gap, the classic web-analytics cut


@register(
    "sessionize_gap_batch",
    oracle=f"""
    WITH o AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('second', lag(ts) OVER w, ts) > {_GAP_S}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    s AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sess
      FROM o),
    per AS (
      SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS n_ev,
             date_diff('second', MIN(ts), MAX(ts)) AS dur_s
      FROM s GROUP BY user_id, sess)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_ev) AS BIGINT) AS n_events,
           CAST(MAX(n_ev) AS BIGINT) AS max_session_events,
           CAST(SUM(dur_s) AS BIGINT) AS total_session_seconds
    FROM per GROUP BY user_id ORDER BY user_id
    """,
)
def sessionize_gap_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH gap-based sessionization — derive sessions from raw event
    timestamps with a {gap}s inactivity cut (the batch twin of
    st_session_window / st_stream_stateful_sessions, which consume the
    stream shapes; here there is no session id in the data — the
    boundary IS the computation, the lag-flag + running-sum idiom).
    Per user: a session starts at the first event or after a >{gap}s
    silence; flag = (gap > cut), session ordinal = running sum of
    flags; then a two-level rollup to per-user session stats. All
    integer arithmetic (epoch-second diffs, counts) — no float drift
    surface at all.

    Scale: ONE shuffle (hash by user_id for the sort-window); the
    session ordinal and both aggregations are computed inside that
    partitioning (groupBy(user_id, sess) is a refinement of the window
    partition and AQE coalesces it locally; the final per-user rollup
    is a sub-key reduction). No state larger than a user's event list
    is ever co-resident; at 100 TB this is the standard sessionize
    shape — skew only if one user owns a partition-sized history, the
    salting twins (join_salted_*) cover that regime.

    Ties on ts are broken by event_id on BOTH engines; equal-ts pairs
    have gap 0 < cut so session assignment is tiebreak-invariant.
    """
    ev = catalog.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(gap_s.isNull() | (gap_s > _GAP_S), F.lit(1))
        .otherwise(F.lit(0))
        .alias("new_s"),
        "event_id",
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("new_s")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sess"),
    )
    per = sess.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).alias("n_ev"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))).alias(
            "dur_s"
        ),
    )
    return (
        per.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_ev").alias("n_events"),
            F.max("n_ev").alias("max_session_events"),
            F.sum("dur_s").alias("total_session_seconds"),
        )
        .orderBy("user_id")
    )


sessionize_gap_batch.__doc__ = sessionize_gap_batch.__doc__.format(gap=_GAP_S)


@register(
    "w12_decay_weighted_score",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS now FROM events),
    d AS (
      SELECT e.user_id,
             CAST(e.value * (1.0 / (1.0 + date_diff('day', e.ts, mx.now)))
                  AS DECIMAL(30,12)) AS term
      FROM events e, mx
      WHERE e.event_type = 'purchase'),
    s AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_purchases,
             CAST(SUM(term) AS DOUBLE) AS decayed
      FROM d GROUP BY user_id)
    SELECT user_id, n_purchases, ROUND(decayed, 6) AS decay_score
    FROM s ORDER BY decay_score DESC, user_id LIMIT 100
    """,
)
def w12_decay_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-DECAY weighted engagement score — recency-weighted
    purchase value per user with a HYPERBOLIC kernel 1/(1+age_days)
    (chosen over exp(-λ·age) deliberately: the kernel is one RATIONAL
    division, so both engines produce bit-identical term doubles — an
    exponential would route through libm/JVM transcendentals whose
    1-ulp drift the repo's determinism discipline forbids in
    hash-checked outputs; at deploy time the kernel is a pluggable
    one-line expression). Per-event terms quantize to DECIMAL(30,12)
    BEFORE the distributed sum (order-independent), top-100 by score.

    Scale: 'now' is a one-row broadcast; terms are map-side; one
    skinny user rollup + TakeOrderedAndProject — the recency-scoring
    pass a ranking pipeline fuses into its daily feature build."""
    ev = catalog.load_table(spark, sf_dir, "events")
    now = ev.agg(F.max("ts").alias("now"))
    d = (
        ev.filter(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(now))
        .select(
            "user_id",
            (
                F.col("value")
                * (
                    F.lit(1.0)
                    / (F.lit(1.0) + F.datediff(F.col("now"), F.col("ts")))
                )
            )
            .cast("decimal(30,12)")
            .alias("term"),
        )
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("term").cast("double").alias("decayed"),
        )
        .select(
            "user_id",
            "n_purchases",
            F.round("decayed", 6).alias("decay_score"),
        )
        .orderBy(F.col("decay_score").desc(), "user_id")
        .limit(100)
    )
