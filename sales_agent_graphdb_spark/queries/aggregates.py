"""Aggregation inventory (SURVEY.md §2.4): the reference computes all
of these imperatively in Python loops — here they are single shuffles
with map-side partial aggregation, plus the grouping-set extensions
(rollup/cube) that come free with Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import (
    H52_SPAN,
    dec6,
    dec6_sql,
    md5_int,
    md5_int_sql,
    money,
    money_sql,
)
from sales_agent_graphdb_spark.operators import graph
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.streaming.pipelines import KMV_SALT


@register(
    "a1_order_totals",
    oracle=f"""
    SELECT l_orderkey AS order_id,
           CAST(SUM({money_sql("l_extendedprice")}) AS DOUBLE) AS total_amount,
           COUNT(*) AS n_items
    FROM lineitem GROUP BY order_id ORDER BY order_id
    """,
)
def a1_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — order total = Σ price·qty over items (reference
    orders.py:31-43 `total += price * qty` loop) as one groupBy with
    map-side combine; exact DECIMAL so partitioning can't skew it."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.col("l_orderkey").alias("order_id"))
        .agg(
            F.sum(money("l_extendedprice")).cast("double").alias("total_amount"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("order_id")
    )


@register(
    "a2_count_by_group",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def a2_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — ingestion counters (reference neo4j_service.py:128-146)
    as groupBy counts + exact distinct."""
    e = catalog.load_table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.countDistinct("user_id").alias("n_users"))
        .orderBy("event_type")
    )


@register(
    "a3_distinct_categories",
    oracle="SELECT DISTINCT p_brand AS category FROM part ORDER BY category",
)
def a3_distinct_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — unique categories for the dropdown (reference
    Products.jsx:137)."""
    p = catalog.load_table(spark, sf_dir, "part")
    return p.select(F.col("p_brand").alias("category")).distinct().orderBy("category")


@register(
    "a4_dedup_last_wins",
    oracle="""
    SELECT user_id, event_id, event_type FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn = 1 ORDER BY user_id
    """,
)
def a4_dedup_last_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — keyed dedup, last write wins (reference
    product_scraper.py:261-263 dict overwrite) via row_number."""
    e = catalog.load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


@register(
    "a5_dedup_normalized_content",
    oracle="""
    SELECT lower(trim(text)) AS norm_text, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_dups
    FROM documents GROUP BY norm_text ORDER BY keep_doc_id
    """,
)
def a5_dedup_normalized_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — seen-set dedup on normalized content (reference
    db_service.py:379-387) as groupBy(normalized) keeping min doc_id."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.lower(F.trim(F.col("text"))).alias("norm_text"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("keep_doc_id")
    )


@register(
    "a6_string_agg",
    oracle="""
    SELECT p_brand AS category,
           string_agg(p_name, ', ' ORDER BY p_name) AS names
    FROM (SELECT DISTINCT p_brand, p_name FROM part) t
    GROUP BY category ORDER BY category
    """,
)
def a6_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 — string aggregation (reference db_service.py:215-234
    '\\n\\n'.join format_docs) as sorted collect_list + array_join."""
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        p.select("p_brand", "p_name")
        .distinct()
        .groupBy(F.col("p_brand").alias("category"))
        .agg(F.array_join(F.array_sort(F.collect_list("p_name")), ", ").alias("names"))
        .orderBy("category")
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT COALESCE(p_brand, 'ALL') AS brand,
           COALESCE(l_returnflag, 'ALL') AS returnflag,
           CAST(SUM({money_sql("l_extendedprice")}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY ROLLUP(p_brand, l_returnflag)
    ORDER BY brand, returnflag
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 extension — hierarchical ROLLUP totals (absent in the
    reference; free in Spark and required at analytics scale)."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .rollup("p_brand", "l_returnflag")
        .agg(F.sum(money("l_extendedprice")).cast("double").alias("revenue"))
        .select(
            F.coalesce(F.col("p_brand"), F.lit("ALL")).alias("brand"),
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            "revenue",
        )
        .orderBy("brand", "returnflag")
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 extension — CUBE over status × priority."""
    o = catalog.load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
        .orderBy("status", "priority")
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_ok
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 extension — HyperLogLog approx distinct (sketch-based; the
    scale path for COUNT(DISTINCT) at 100 TB).

    Oracle-checked as a BOUNDS VERDICT (the pct_approx_value
    technique): the HLL estimate itself is engine-specific, so the
    query emits the exact count (cross-engine bigint) plus a boolean
    asserting the sketch landed within 5σ of it (rsd=0.02 → 10% + 1
    slack). A broken sketch flips the boolean and hash-mismatches the
    all-TRUE oracle, so the driver row is a real check at any SF."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    within = (
        F.abs(F.col("approx") - F.col("exact_parts")).cast("double")
        <= F.col("exact_parts") * F.lit(0.10) + F.lit(1.0)
    )
    return agg.select(
        "l_returnflag", "exact_parts", within.alias("approx_ok")
    ).orderBy("l_returnflag")


_PIVOT_STATUSES = ["DELIVERED", "PENDING", "PROCESSING"]


@register(
    "agg_pivot_unpivot",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority AS priority,
             SUM(CASE WHEN status = 'DELIVERED'  THEN 1 ELSE 0 END) AS "DELIVERED",
             SUM(CASE WHEN status = 'PENDING'    THEN 1 ELSE 0 END) AS "PENDING",
             SUM(CASE WHEN status = 'PROCESSING' THEN 1 ELSE 0 END) AS "PROCESSING"
      FROM (SELECT o_orderpriority,
                   CASE o_orderstatus WHEN 'O' THEN 'PENDING'
                                      WHEN 'P' THEN 'PROCESSING'
                                      ELSE 'DELIVERED' END AS status
            FROM orders)
      GROUP BY priority)
    SELECT priority, status, CAST(n AS BIGINT) AS n FROM wide
    UNPIVOT (n FOR status IN ("DELIVERED", "PENDING", "PROCESSING"))
    ORDER BY priority, status
    """,
)
def agg_pivot_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 extension — pivot (long→wide: order counts per priority ×
    status, FIXED value list so the schema is static and the pivot
    needs no discovery pass over the data — the scale-safe form) then
    unpivot back (wide→long), proving the roundtrip is lossless. The
    oracle mirrors both steps with CASE sums + UNPIVOT. At 100 TB a
    pivot with explicit values is one groupBy shuffle; the
    value-discovery variant (pivot() with no list) adds a distinct
    scan and an unbounded-width schema — avoided by design."""
    o = catalog.ref_orders(spark, sf_dir)
    wide = (
        o.groupBy(F.col("priority"))
        .pivot("status", _PIVOT_STATUSES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PIVOT_STATUSES)
    )
    long = wide.unpivot(
        ids=["priority"],
        values=_PIVOT_STATUSES,
        variableColumnName="status",
        valueColumnName="n",
    )
    return long.orderBy("priority", "status")


@register(
    "feature_zscore_stats",
    oracle=f"""
    WITH moments AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(19,6)) * CAST(value AS DECIMAL(19,6))) AS DOUBLE) AS s2
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           ROUND(s1 / n, 6) AS mean,
           ROUND(sqrt((s2 - (s1 * s1) / n) / (n - 1)), 6) AS stddev
    FROM moments ORDER BY event_type
    """,
)
def feature_zscore_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ML feature-prep: per-group standardization moments (n, mean,
    sample stddev) computed from EXACT DECIMAL power sums, not the
    engines' streaming variance kernels — Spark's stddev_samp uses
    Welford-style updates whose intermediate rounding differs from
    DuckDB's, so the portable form is sum/sumsq in decimal, then the
    closed-form variance in doubles with an identical expression tree,
    rounded to 6 decimals on both sides (DuckDB's int128 DECIMAL(38,12)
    -> DOUBLE conversion double-rounds, a ~1-ulp drift the rounding
    absorbs — same trick as graph_pagerank).
    One map-side-combinable groupBy; the z-score itself is then a
    broadcast join of these 5 rows against the fact scan."""
    e = catalog.load_table(spark, sf_dir, "events")
    d6 = F.col("value").cast("decimal(19,6)")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec6("value")).cast("double").alias("s1"),
        F.sum(d6 * d6).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return m.select(
        "event_type",
        "n",
        F.round(s1 / n, 6).alias("mean"),
        F.round(F.sqrt((s2 - (s1 * s1) / n) / (n - F.lit(1))), 6).alias("stddev"),
    ).orderBy("event_type")


@register(
    "agg_value_histogram",
    oracle="""
    SELECT CAST(floor(value / 25.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY bin ORDER BY bin
    """,
)
def agg_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values (bin = floor(value/25)) —
    the distribution-profiling primitive behind data-quality dashboards
    and feature binning. One map-side-combinable groupBy on a dense
    integer key; at 100 TB the bin count stays constant, so the final
    reduce is trivially small regardless of input size."""
    e = catalog.load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.floor(F.col("value") / F.lit(25.0)).cast("long").alias("bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bin")
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n_orders,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY status, priority
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 extension — arbitrary GROUPING SETS (the per-status and
    per-priority marginals in ONE pass, without cube's cross terms):
    completes the grouping family next to ROLLUP/CUBE. One shuffle,
    map-side combinable expansion — same scale shape as rollup."""
    o = catalog.load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"]],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("o_totalprice")).cast("double").alias("total"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("priority"),
            "n_orders",
            "total",
        )
        .orderBy("status", "priority")
    )


@register(
    "basket_pair_counts",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey AS order_id, l_partkey AS product_id
      FROM lineitem),
    pairs AS (
      SELECT a.product_id AS prod_a, b.product_id AS prod_b
      FROM items a JOIN items b
        ON a.order_id = b.order_id AND a.product_id < b.product_id)
    SELECT prod_a, prod_b, CAST(COUNT(*) AS BIGINT) AS n_baskets
    FROM pairs GROUP BY prod_a, prod_b
    HAVING COUNT(*) >= 2
    ORDER BY n_baskets DESC, prod_a, prod_b
    LIMIT 1000
    """,
)
def basket_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair co-occurrence (the Apriori/A-Priori first
    pass, MMDS ch.6): how often each product PAIR appears in the same
    order, thresholded to frequent pairs — the core primitive behind
    "bought together" recommendations. Expressed as a self-join of the
    DISTINCT (order, product) item set on the order key with the
    canonical a < b orientation (each pair generated once — the
    triangle_count technique).

    Scale shape: the self-join shuffles once on order_id and its
    fan-out is Σ_order k² with k = items-per-order (bounded ~7 here,
    and in practice capped by dropping pathological mega-baskets, the
    hot-bucket rule); the pair aggregation is map-side combinable on
    the (a, b) key; the support threshold keeps the result to the
    frequent tail. Never an all-pairs product over the catalog. The
    pair build is graph.co_occurrence_pairs over the distinct items.

    The support threshold is 2 with a deterministic top-1000 cap (the
    ORDER BY is a total order, so LIMIT is stable): at the driver test
    SFs a TPC-H-ish uniform part draw makes support >= 20 empty on
    both engines, which certifies nothing (flagged in round 3); at
    production SF the cap — not the threshold — bounds the result."""
    items = (
        catalog.load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    return (
        graph.co_occurrence_pairs(items, "l_orderkey", "l_partkey")
        .select(
            F.col("lo").alias("prod_a"),
            F.col("hi").alias("prod_b"),
            F.col("w").alias("n_baskets"),
        )
        .filter(F.col("n_baskets") >= 2)
        .orderBy(F.col("n_baskets").desc(), "prod_a", "prod_b")
        .limit(1000)
    )


@register(
    "agg_mode_per_group",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus AS status, o_orderpriority AS prio,
             COUNT(*) AS n
      FROM orders GROUP BY 1, 2),
    r AS (
      SELECT status, prio, n,
             row_number() OVER (PARTITION BY status ORDER BY n DESC, prio) AS rk
      FROM c)
    SELECT status, prio AS mode_priority, CAST(n AS BIGINT) AS n_orders
    FROM r WHERE rk = 1 ORDER BY status
    """,
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group (most frequent order priority per
    status, ties to the lexically smallest — fully deterministic,
    unlike any sampling-based mode). Shape: one map-side-combinable
    count on the (group, value) pair key, then a per-group argmax
    window sharded by group — the two-step that replaces a
    collect-and-count at any scale; the window frame is
    |distinct values| per group, never the fact table."""
    from pyspark.sql import Window as W

    o = catalog.load_table(spark, sf_dir, "orders")
    c = o.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rk = F.row_number().over(
        W.partitionBy("status").orderBy(F.col("n").desc(), F.col("prio"))
    )
    return (
        c.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select("status", F.col("prio").alias("mode_priority"), F.col("n").alias("n_orders"))
        .orderBy("status")
    )


@register(
    "agg_exchange_reuse_mom",
    oracle=f"""
    WITH m AS (SELECT date_trunc('month', o_orderdate) AS m,
                      SUM({money_sql("o_totalprice")}) AS rev
               FROM orders GROUP BY 1)
    SELECT strftime(cur.m, '%Y-%m') AS month,
           CAST(cur.rev AS DOUBLE) AS revenue,
           CAST(prev.rev AS DOUBLE) AS prev_revenue,
           CAST(cur.rev - prev.rev AS DOUBLE) AS delta
    FROM m cur JOIN m prev ON cur.m = prev.m + INTERVAL 1 MONTH
    ORDER BY month
    """,
)
def agg_exchange_reuse_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue via a SELF-JOIN of one aggregate —
    the EXCHANGE-REUSE optimizer anchor: both join inputs are the
    identical monthly-revenue subplan, and Spark's physical planner
    deduplicates them — the aggregation's shuffle is COMPUTED ONCE and
    the second consumer becomes a ReusedExchange over the same shuffle
    files (pinned post-execution in tests/test_plans.py; AQE
    materializes the reuse as the stages finish). At 100 TB this is
    the difference between scanning + shuffling the fact once vs twice
    whenever a query references the same derived frame from two
    places — free with declarative plans, impossible to express if
    each consumer had hand-scheduled its own scan. The window-function
    form of MoM (one exchange by construction) is the w4_lag_delta
    family; this anchor certifies the JOIN form costs the same scan
    count. Exact-DECIMAL month sums; the plain self-join SQL is the
    oracle."""
    o = catalog.load_table(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.sum(money("o_totalprice")).alias("rev")
    )
    cur, prev = m.alias("cur"), m.alias("prev")
    j = cur.join(
        prev, F.col("cur.m") == F.col("prev.m") + F.expr("interval 1 month")
    )
    return j.select(
        F.date_format("cur.m", "yyyy-MM").alias("month"),
        F.col("cur.rev").cast("double").alias("revenue"),
        F.col("prev.rev").cast("double").alias("prev_revenue"),
        (F.col("cur.rev") - F.col("prev.rev")).cast("double").alias("delta"),
    ).orderBy("month")

# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta-style) sketch with SET-INTERSECTION
# estimation — the sketch class HLL cannot provide (HLL unions; it
# cannot intersect). Estimator (Beyer et al. 2007): keep the k smallest
# normalized hashes per set; for the union's k-mins U_k with k-th
# smallest value K: |A∪B| ≈ (k-1)/K, Jaccard ≈ |U_k ∩ kmv(A) ∩
# kmv(B)|/k (any member of U_k is necessarily in kmv(A) or kmv(B), so
# sketch membership IS set membership there), and |A∩B| ≈ J·|A∪B|.
# Hashes come from the shared 52-bit md5 (engine-portable,
# deterministic) so BOTH engines build bit-identical sketches and the
# whole estimate chain is hash-checked — the estimator's randomness is
# frozen, the oracle replays it exactly.
#
# The two audiences are PER-USER behavioral segments with genuine
# partial overlap (measured sf0.1: |A|=401 spenders, |B|=689 heavy
# viewers, 180 common → J≈0.20; a naive per-event-type split is
# vacuous here — every user has every type). Membership thresholds
# compare EXACT DECIMAL sums / BIGINT counts, so distributed
# summation order can never flip a borderline user between engines.
# ---------------------------------------------------------------------------
_KMV_K = 64
_KMV_SPEND = 800  # spender: per-user purchase value above this
_KMV_VIEWS = 14  # heavy viewer: at least this many view events


@register(
    "agg_kmv_intersection",
    oracle=f"""
    WITH per AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase'
                      THEN {dec6_sql("value")} ELSE 0 END) AS pval,
             COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS vn
      FROM events GROUP BY user_id),
    members AS (
      SELECT 'A' AS tag, user_id FROM per WHERE pval > {_KMV_SPEND}
      UNION ALL
      SELECT 'B' AS tag, user_id FROM per WHERE vn >= {_KMV_VIEWS}),
    hashed AS (
      SELECT tag, user_id,
             {md5_int_sql("user_id", KMV_SALT, 13)}
               / {H52_SPAN} AS h
      FROM members),
    sk AS (  -- per-set KMV sketch: the k smallest hashes
      SELECT tag, h
      FROM (SELECT tag, h,
                   row_number() OVER (PARTITION BY tag ORDER BY h) AS rn
            FROM hashed)
      WHERE rn <= {_KMV_K}),
    uk AS (  -- k-mins of the merged sketch = k-mins of the union
      SELECT h, in_a, in_b, rn, COUNT(*) OVER () AS m
      FROM (SELECT h,
                   MAX(CASE WHEN tag = 'A' THEN 1 ELSE 0 END) AS in_a,
                   MAX(CASE WHEN tag = 'B' THEN 1 ELSE 0 END) AS in_b,
                   row_number() OVER (ORDER BY h) AS rn
            FROM sk GROUP BY h)
      WHERE rn <= {_KMV_K}),
    est AS (
      SELECT MAX(m) AS m,
             MAX(CASE WHEN rn = m THEN h END) AS kth,
             CAST(SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS both_n
      FROM uk),
    ex AS (
      SELECT CAST(COUNT(DISTINCT CASE WHEN tag = 'A'
                                      THEN user_id END) AS BIGINT) AS exact_a,
             CAST(COUNT(DISTINCT CASE WHEN tag = 'B'
                                      THEN user_id END) AS BIGINT) AS exact_b,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_union
      FROM members),
    ix AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS exact_inter FROM (
        SELECT user_id FROM members GROUP BY user_id HAVING COUNT(*) = 2))
    SELECT {_KMV_K} AS k, ex.exact_a, ex.exact_b, ex.exact_union,
           ix.exact_inter,
           ROUND(CASE WHEN est.m < {_KMV_K} THEN CAST(est.m AS DOUBLE)
                      ELSE ({_KMV_K} - 1) / est.kth END, 6) AS union_est,
           ROUND(est.both_n / est.m, 6) AS jaccard_est,
           ROUND((est.both_n / est.m)
                 * (CASE WHEN est.m < {_KMV_K} THEN CAST(est.m AS DOUBLE)
                         ELSE ({_KMV_K} - 1) / est.kth END), 6) AS inter_est
    FROM est, ex, ix
    """,
)
def agg_kmv_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta-style sketch with INTERSECTION estimation over two
    behavioral audiences — spenders (per-user purchase value >
    {spend}, exact DECIMAL) and heavy viewers (>= {views} view
    events) — the overlap question ("how many big spenders are also
    heavy viewers?") that HLL (agg_hll_rollup) structurally cannot
    answer. Exact counts ride along so the output itself exhibits the
    sketch error; the estimator's hash randomness is the shared
    md5-52 uniform, frozen and replayed by the oracle, so every
    double in the chain is bit-identical across engines. The three
    SFs exercise all regimes: both sets under k (everything exact,
    sf0.001), one side sketched (sf0.01), full sketch estimation
    (sf0.1: 401/689/180 true, J≈0.20).

    Scale: per-set sketches are (k smallest)-per-group — row_number
    over a hash order with rn <= k lowers to WindowGroupLimit, so
    each map partition forwards AT MOST k rows per set and the
    exchange carries O(partitions·k), never the audience itself.
    Merging sketches is a k-row operation; at 100 TB the same shape
    runs per (day, segment) with sketches persisted as BOTH mergeable
    state and intersection-capable state — union by re-k-min,
    intersect by this estimator — while exact COUNT(DISTINCT) pays a
    full shuffle of every distinct member (kept here only as the
    error witness)."""
    ev = catalog.load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                dec6("value"),
            ).otherwise(dec6(F.lit(0)))
        ).alias("pval"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("vn"),
    )
    members = (
        per.filter(F.col("pval") > _KMV_SPEND)
        .select(F.lit("A").alias("tag"), "user_id")
        .unionAll(
            per.filter(F.col("vn") >= _KMV_VIEWS).select(
                F.lit("B").alias("tag"), "user_id"
            )
        )
    )
    h = md5_int("user_id", KMV_SALT, 13) / F.lit(H52_SPAN)
    sk = (
        members.select("tag", h.alias("h"))
        .withColumn("rn", F.row_number().over(W.partitionBy("tag").orderBy("h")))
        .filter(F.col("rn") <= _KMV_K)
        .select("tag", "h")
    )
    uk = (
        sk.groupBy("h")
        .agg(
            F.max(F.when(F.col("tag") == "A", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("tag") == "B", 1).otherwise(0)).alias("in_b"),
        )
        .withColumn("rn", F.row_number().over(W.orderBy("h")))
        .filter(F.col("rn") <= _KMV_K)
        # m AFTER the k-cut, matching the oracle: min(k, merged size)
        .withColumn("m", F.count(F.lit(1)).over(W.partitionBy()))
    )
    est = uk.agg(
        F.max("rn").alias("m"),
        F.max(F.when(F.col("rn") == F.col("m"), F.col("h"))).alias("kth"),
        F.sum(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0))
        .cast("double")
        .alias("both_n"),
    )
    ex = members.agg(
        F.countDistinct(F.when(F.col("tag") == "A", F.col("user_id"))).alias(
            "exact_a"
        ),
        F.countDistinct(F.when(F.col("tag") == "B", F.col("user_id"))).alias(
            "exact_b"
        ),
        F.countDistinct("user_id").alias("exact_union"),
    )
    ix = (
        members.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == 2)
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    union_est = F.when(F.col("m") < _KMV_K, F.col("m").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) / F.col("kth")
    )
    jac = F.col("both_n") / F.col("m")
    return (
        est.crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(ix))
        .select(
            F.lit(_KMV_K).alias("k"),
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_inter",
            F.round(union_est, 6).alias("union_est"),
            F.round(jac, 6).alias("jaccard_est"),
            F.round(jac * union_est, 6).alias("inter_est"),
        )
    )


agg_kmv_intersection.__doc__ = agg_kmv_intersection.__doc__.format(
    spend=_KMV_SPEND, views=_KMV_VIEWS
)


# KMV mergeability: kmv(X ∪ Y) == k-min(kmv(X) ∪ kmv(Y)) — the
# algebraic property that makes the sketch maintainable incrementally
# (per-batch sketches fold into the running sketch; nothing is ever
# recomputed from history). The query PROVES it on data by building
# both sides and emitting the mismatch count (merge_ok), alongside the
# merged estimate and the exact count as the error witness.
_KMV_BATCH_MOD = 7  # "new arrivals": user_id % 7 == 0


@register(
    "agg_kmv_incremental",
    oracle=f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    hashed AS (
      SELECT user_id,
             {md5_int_sql("user_id", KMV_SALT, 13)}
               / {H52_SPAN} AS h,
             CASE WHEN user_id % {_KMV_BATCH_MOD} = 0 THEN 'batch'
                  ELSE 'old' END AS part
      FROM users),
    sk_part AS (  -- per-partition sketches (old corpus / new batch)
      SELECT part, h
      FROM (SELECT part, h,
                   row_number() OVER (PARTITION BY part ORDER BY h) AS rn
            FROM hashed)
      WHERE rn <= {_KMV_K}),
    merged AS (  -- fold the two sketches: k smallest of their union
      SELECT h
      FROM (SELECT DISTINCT h FROM sk_part)
      ORDER BY h LIMIT {_KMV_K}),
    direct AS (  -- ground truth: sketch built from the full corpus
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM hashed)
      WHERE rn <= {_KMV_K}),
    cmp AS (
      SELECT (SELECT COUNT(*) FROM (SELECT h FROM merged EXCEPT
                                    SELECT h FROM direct))
           + (SELECT COUNT(*) FROM (SELECT h FROM direct EXCEPT
                                    SELECT h FROM merged)) AS n_mismatch),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m, MAX(h) AS kth FROM merged),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_users FROM users)
    SELECT {_KMV_K} AS k, est.m, ex.exact_users,
           ROUND(CASE WHEN est.m < {_KMV_K} THEN CAST(est.m AS DOUBLE)
                      ELSE ({_KMV_K} - 1) / est.kth END, 6) AS union_est,
           (cmp.n_mismatch = 0) AS merge_ok
    FROM est, ex, cmp
    """,
)
def agg_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL KMV maintenance — the mergeability proof: the
    distinct-user sketch folded from two independently-built partial
    sketches (standing corpus vs 'new arrivals', user_id %
    {mod} == 0) must equal the sketch built directly from the full
    corpus, hash-for-hash (merge_ok) — the property that lets a
    100 TB pipeline keep ONE k-row state per (segment, day) and fold
    each micro-batch's k-row sketch into it (the agg_hll_rollup /
    dedup_incremental_minhash maintenance pattern, now for the
    intersection-capable sketch). Emits the merged estimate with the
    exact count as the ride-along error witness; everything derives
    from the shared md5-52 uniform, so the oracle replays the fold
    bit-for-bit.

    Scale: each partial sketch is WindowGroupLimit-bounded (k rows per
    map partition reach the exchange); the fold itself touches 2k
    rows. The EXCEPT-based equality check is sketch-sized (k rows a
    side), not data-sized."""
    ev = catalog.load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    h = md5_int("user_id", KMV_SALT, 13) / F.lit(H52_SPAN)
    hashed = users.select(
        h.alias("h"),
        F.when(F.col("user_id") % _KMV_BATCH_MOD == 0, "batch")
        .otherwise("old")
        .alias("part"),
    )
    sk_part = (
        hashed.withColumn(
            "rn", F.row_number().over(W.partitionBy("part").orderBy("h"))
        )
        .filter(F.col("rn") <= _KMV_K)
        .select("part", "h")
    )
    merged = sk_part.select("h").distinct().orderBy("h").limit(_KMV_K)
    direct = (
        hashed.withColumn("rn", F.row_number().over(W.orderBy("h")))
        .filter(F.col("rn") <= _KMV_K)
        .select("h")
    )
    n_mismatch = (
        merged.exceptAll(direct).count() + direct.exceptAll(merged).count()
    )
    est = merged.agg(
        F.count(F.lit(1)).alias("m"), F.max("h").alias("kth")
    )
    ex = users.agg(F.count(F.lit(1)).alias("exact_users"))
    union_est = F.when(F.col("m") < _KMV_K, F.col("m").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1)) / F.col("kth")
    )
    return est.crossJoin(F.broadcast(ex)).select(
        F.lit(_KMV_K).alias("k"),
        "m",
        "exact_users",
        F.round(union_est, 6).alias("union_est"),
        F.lit(n_mismatch == 0).alias("merge_ok"),
    )


agg_kmv_incremental.__doc__ = agg_kmv_incremental.__doc__.format(
    mod=_KMV_BATCH_MOD
)


@register(
    "agg_multi_distinct_expand",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def agg_multi_distinct_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-DISTINCT aggregate — three COUNT(DISTINCT x) over
    DIFFERENT columns in one GROUP BY: Catalyst's RewriteDistinctAggregates
    lowers this to ONE Expand (each row fans out once per distinct
    group with a grouping id) + a two-level aggregate — one pass over
    the fact and one shuffle, where the naive plan would scan and
    shuffle once PER distinct column (3x the fact traffic at 100 TB;
    the Expand trades 3x in-memory row fan-out — cheap, map-side —
    for 3x less scan+shuffle). The Expand node and a single scan are
    pinned in tests/test_plans.py. Plain counts, no float surface."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


# Bitmap exact-distinct sizing: user_id is a dense integer key; one
# word covers 63 ids (63, not 64: DuckDB's signed << raises on bit 63
# while Spark's wraps — both engines stay inside the portable signed
# range), so the per-group state is ~max_id/8 bytes of bitmap
# (ClickHouse's groupBitmap / roaring-bitmap technique, flat-array
# form). Mergeable by bitwise OR — the same incremental fold shape as
# the KMV sketch, but EXACT for dense key domains.
@register(
    "agg_bitmap_distinct",
    oracle="""
    WITH m AS (
      SELECT event_type, CAST(user_id // 63 AS BIGINT) AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(user_id % 63 AS INTEGER)) AS bits
      FROM events GROUP BY event_type, w)
    SELECT event_type,
           CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users_bitmap,
           (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events e
            WHERE e.event_type = m.event_type) AS n_users_exact,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM m GROUP BY event_type ORDER BY event_type
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BITMAP exact distinct for dense integer keys (ClickHouse
    groupBitmap / roaring-bitmap class): per (group, id/64) word, OR
    the id's bit in; distinct count = Σ popcount(word). Both the
    bitmap count and plain COUNT(DISTINCT) ride the output, so the
    row itself certifies exactness — unlike HLL/KMV this is NOT an
    estimate, and unlike COUNT(DISTINCT) the state is mergeable by
    bitwise OR (per-batch bitmaps fold like st_stream_kmv_maintain's
    sketches but stay exact) and bounded by the KEY DOMAIN, not the
    data: max_id/8 bytes per group regardless of row count. At 100 TB
    with dense surrogate keys this beats both exact-distinct shuffles
    (state is bits, not values) and sketches (no error); sparse/wide
    domains are where KMV/HLL take over — the three queries together
    document that decision boundary. All integer ops; popcount via
    bit_count on both engines."""
    ev = catalog.load_table(spark, sf_dir, "events")
    m = (
        ev.select(
            "event_type",
            # Exact integer division (ADVICE r08): `div` stays in
            # integer arithmetic end-to-end; the old double division
            # `(user_id / 63).cast('bigint')` silently loses exactness
            # past 2^52 and truncates toward zero for negative ids
            # while the oracle's `//` floors. pmod keeps the bit index
            # nonnegative on the same ids. (Surrogate ids here are
            # dense nonnegative, but the packing must stay portable by
            # construction, not by data luck.)
            F.expr("user_id div 63").alias("w"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pmod(user_id, 63) as int))"
            ).alias("mask"),
        )
        .groupBy("event_type", "w")
        .agg(F.bit_or("mask").alias("bits"))
    )
    counts = m.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).alias("n_users_bitmap"),
        F.count(F.lit(1)).alias("n_words"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users_exact")
    )
    return (
        counts.join(exact, "event_type")
        .select("event_type", "n_users_bitmap", "n_users_exact", "n_words")
        .orderBy("event_type")
    )


_MG_K = 16  # Misra-Gries counters per partition summary


@register(
    "agg_spacesaving_topk",
    oracle=f"""
    WITH keyed AS (
      SELECT CASE WHEN event_id % 10 < 4 THEN 'hot_' || (event_id % 2)
                  ELSE 'u' || user_id END AS key
      FROM events),
    cnt AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n FROM keyed GROUP BY key),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cnt)
    SELECT c.key, c.n AS exact_count, TRUE AS in_mg_summary
    FROM cnt c, tot WHERE c.n * {_MG_K} > tot.total
    ORDER BY c.key
    """,
)
def agg_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MISRA-GRIES heavy hitters (the Space-Saving family; Agarwal et
    al.'s MERGEABLE summaries result): each partition streams its rows
    through k={_MG_K} counters (hit → +1; room → insert; full →
    decrement ALL, drop zeros), the ≤k-row partition summaries merge
    by key-sum, and the guarantee survives merging: EVERY key with
    true frequency > n/k is present in the merged summary — bounded
    state, one pass, no second scan. The stream is keyed with a
    planted 40/60 hot/cold split (two hot keys at ~20% each, verified
    non-vacuous at every SF) over ~|users| cold keys, so the sketch
    has something real to find. Output contract: the EXACT heavy
    hitters (oracled by plain aggregation) plus the sketch verdict —
    in_mg_summary must be TRUE for every one, by theorem; a FALSE
    would hash-mismatch and flag the implementation, not the data.

    Scale: at 100 TB with billions of distinct keys, exact groupBy
    state is |keys| while MG state is k·|partitions| counters — this
    is the top-k form that fits in memory when the key domain does
    not; the exact twin here is affordable only because the test
    corpus is small (the oracle IS that twin). mapInPandas streams
    Arrow batches through the per-partition counters — the bounded-
    state exception to the no-Python-hot-path rule, same class as
    the UDF-matrix rows."""
    ev = catalog.load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("event_id") % 10 < 4,
            F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("key")
    )

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    summary_schema = StructType(
        [
            StructField("key", StringType()),
            StructField("mg_count", LongType()),
        ]
    )

    def mg_partition(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for key in pdf["key"]:
                if key in counters:
                    counters[key] += 1
                elif len(counters) < _MG_K:
                    counters[key] = 1
                else:
                    for c in list(counters):
                        counters[c] -= 1
                        if counters[c] == 0:
                            del counters[c]
        yield pd.DataFrame(
            {"key": list(counters), "mg_count": list(counters.values())}
        )

    summary = (
        keyed.mapInPandas(mg_partition, summary_schema)
        .groupBy("key")
        .agg(F.sum("mg_count").alias("mg_count"))
    )
    exact = keyed.groupBy("key").agg(F.count(F.lit(1)).alias("exact_count"))
    total = exact.agg(F.sum("exact_count").alias("total"))
    heavy = exact.crossJoin(F.broadcast(total)).filter(
        F.col("exact_count") * _MG_K > F.col("total")
    )
    return (
        heavy.join(summary, "key", "left")
        .select(
            "key",
            "exact_count",
            F.col("mg_count").isNotNull().alias("in_mg_summary"),
        )
        .orderBy("key")
    )


@register(
    "f21_approx_top_k_native",
    oracle=f"""
    WITH keyed AS (
      SELECT CASE WHEN event_id % 10 < 4 THEN 'hot_' || (event_id % 2)
                  ELSE 'u' || user_id END AS key
      FROM events),
    cnt AS (SELECT key, CAST(COUNT(*) AS BIGINT) AS n
            FROM keyed GROUP BY key),
    top AS (SELECT key, n FROM cnt ORDER BY n DESC, key LIMIT 2)
    SELECT key AS item, n AS est_count, n AS exact_count
    FROM top ORDER BY item
    """,
)
def f21_approx_top_k_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F21 — Spark 4's NATIVE approx_top_k aggregate (the engine-built
    sibling of the hand-built Misra-Gries in agg_spacesaving_topk):
    one aggregate call returns the top-k items with estimated counts
    from a bounded-memory sketch. Same planted 40/60 hot/cold stream;
    maxItemsTracked=16384 strictly exceeds the key domain (two hot
    keys + ≤1,500 users at every SF, measured), so the sketch never
    evicts and its counts are EXACT — which is what lets a DuckDB
    oracle hash-check a sketch: est_count must EQUAL exact_count row
    for row, and the query emits both so the equality is in the
    hashed output, not just asserted. At 100 TB with a key domain
    past the tracked budget the counts become estimates with the
    Space-Saving error bound and the exact twin takes over as the
    verifier — the two queries document that boundary from both
    sides. The struct-array result is exploded and scalarized for the
    driver (array outputs are banned)."""
    ev = catalog.load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(
            F.col("event_id") % 10 < 4,
            F.concat(F.lit("hot_"), (F.col("event_id") % 2).cast("string")),
        )
        .otherwise(F.concat(F.lit("u"), F.col("user_id").cast("string")))
        .alias("key")
    )
    sk = keyed.agg(
        F.expr("approx_top_k(key, 2, 16384)").alias("topk")
    ).select(F.explode("topk").alias("e"))
    est = sk.select(
        F.col("e.item").alias("item"),
        F.col("e.count").cast("bigint").alias("est_count"),
    )
    exact = keyed.groupBy(F.col("key").alias("item")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return est.join(exact, "item").orderBy("item")
