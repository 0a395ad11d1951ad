"""Window functions (SURVEY.md §2.5): absent in the reference (its
nearest patterns are the last-6-messages slice and first-match-wins
fallbacks) but required by the events table and any 100 TB analytics
surface. All tie-broken deterministically so the oracle hash is stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import dec6, dec6_sql, money, money_sql
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.registry import register


@register(
    "w1_last6_per_session",
    oracle="""
    SELECT session_id, turn, rn FROM (
      SELECT user_id AS session_id, event_id AS turn,
             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events) t
    WHERE rn <= 6 ORDER BY session_id, rn
    """,
)
def w1_last6_per_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — the reference's `chat_history[-6:]` prompt window
    (agent_graph.py:95,219,392) over chat_messages."""
    m = catalog.chat_messages(spark, sf_dir)
    w = W.partitionBy("session_id").orderBy(F.col("ts").desc(), F.col("turn").desc())
    return (
        m.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 6)
        .select("session_id", "turn", "rn")
        .orderBy("session_id", "rn")
    )


@register(
    "w2_running_sum",
    oracle=f"""
    SELECT o_custkey AS customer_id, o_orderkey AS id,
           CAST(SUM({money_sql("o_totalprice")})
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
    FROM orders ORDER BY customer_id, id
    """,
)
def w2_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — running lifetime value per customer (rows frame, exact
    DECIMAL accumulation)."""
    o = catalog.load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        F.col("o_custkey").alias("customer_id"),
        F.col("o_orderkey").alias("id"),
        F.sum(money("o_totalprice")).over(w).cast("double").alias("running_total"),
    ).orderBy("customer_id", "id")


@register(
    "w3_topn_per_group",
    oracle="""
    SELECT category, id, name, price, rnk FROM (
      SELECT p_brand AS category, p_partkey AS id, p_name AS name, p_retailprice AS price,
             row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rnk
      FROM part) t
    WHERE rnk <= 3 ORDER BY category, rnk
    """,
)
def w3_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — top-3 priciest products per category (ranked-window
    top-k; the distributed form of the reference's first-match-wins)."""
    p = catalog.load_table(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return (
        p.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("p_brand").alias("category"),
            F.col("p_partkey").alias("id"),
            F.col("p_name").alias("name"),
            F.col("p_retailprice").alias("price"),
            "rnk",
        )
        .orderBy("category", "rnk")
    )


@register(
    "w4_lag_delta",
    oracle="""
    SELECT user_id, event_id,
           value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
    FROM events ORDER BY user_id, event_id
    """,
)
def w4_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — per-user event-value delta via lag (change detection)."""
    e = catalog.load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_id",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
    ).orderBy("user_id", "event_id")


@register(
    "w5_ntile_buckets",
    oracle="""
    SELECT bucket, COUNT(*) AS n, CAST(MIN(c_acctbal) AS DOUBLE) AS lo, CAST(MAX(c_acctbal) AS DOUBLE) AS hi
    FROM (SELECT c_acctbal, ntile(10) OVER (ORDER BY c_acctbal, c_custkey) AS bucket FROM customer) t
    GROUP BY bucket ORDER BY bucket
    """,
)
def w5_ntile_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — decile bucketing of account balances, computed as EXACT
    distributed ntile with NO single-partition window (this was the
    repo's one remaining global-window site; rewritten round 6).

    Decomposition: ntile(n) is a pure function of the global rank, so
    (1) compute the global row_number with the two-pass range-
    partitioned prefix COUNT (operators/prefix_sum.py — per-range local
    row_numbers + an O(n_partitions) offset pass), then (2) apply the
    SQL ntile size rule arithmetically — with N rows the first
    N mod n buckets hold (N div n)+1 rows — via integer `div` (never
    double division, so the bucket id is exact at any N). The total
    row count joins in as a broadcast one-row frame. The DuckDB oracle
    stays the plain `ntile(10) OVER (ORDER BY ...)` form, so the hash
    certifies the decomposition IS ntile. Scale: two balanced full
    exchanges (range + pid) plus a 10-row aggregate — the shape that
    survives 100 TB, vs the old form's one exchange into ONE task."""
    from sales_agent_graphdb_spark.operators.prefix_sum import distributed_ntile

    c = catalog.load_table(spark, sf_dir, "customer").select(
        "c_acctbal", "c_custkey"
    )
    return (
        distributed_ntile(c, ["c_acctbal", "c_custkey"], 10, out_col="bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").cast("double").alias("lo"),
            F.max("c_acctbal").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "w6_rank_distributions",
    oracle="""
    SELECT o_orderpriority AS priority, o_orderkey AS orderkey,
           rank() OVER w AS rnk,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders
    WHERE o_orderkey <= 2000
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY priority, rnk, orderkey
    """,
)
def w6_rank_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — analytic rank distributions (rank / percent_rank /
    cume_dist) per priority group. Partitioned windows, so each group
    sorts within its own shuffle partition — the scale-safe window
    shape (contrast w5's deliberately-global ntile). percent_rank =
    (rank-1)/(n-1) and cume_dist = n_le/n are single divisions of
    exact integers: bit-exact across engines. Deterministic total
    order via the (price DESC, orderkey) tie-break."""
    o = catalog.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 2000
    )
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            F.col("o_orderpriority").alias("priority"),
            F.col("o_orderkey").alias("orderkey"),
            F.rank().over(w).alias("rnk"),
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cume"),
        )
        .orderBy("priority", "rnk", "orderkey")
    )


# ONE oracle for both global-running-sum decompositions (w7 two-pass,
# w7b single-exchange): the plain ordered-window form. A drift between
# the two would let the variants silently certify different results.
_W7_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len({tk.ws_tokens_sql()}) AS INT) AS n_tokens
      FROM documents)
    SELECT doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_tokens
    FROM t ORDER BY doc_id
    """


@register("w7_global_running_sum", oracle=_W7_ORACLE)
def w7_global_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension — GLOBAL running sum with NO single-partition
    window: the two-pass range-partitioned prefix sum
    (operators/prefix_sum.py) that w5_ntile_buckets' self-flagged
    global-window weakness calls for. Local per-range cumsums + an
    n_partitions-row offset pass compute the identical integer result
    (token ledger in doc_id order) at any scale; the oracle is the
    plain ordered-window form, so the hash certifies the two-pass
    decomposition is exact."""
    from sales_agent_graphdb_spark.operators.prefix_sum import global_prefix_sum

    d = catalog.load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(tk.ws_tokens(F.col("text"))).cast("int").alias("n_tokens"),
    )
    out = global_prefix_sum(t, "doc_id", "n_tokens", out_col="cum_tokens")
    return out.select(
        "doc_id", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    ).orderBy("doc_id")


@register("w7b_running_sum_single_exchange", oracle=_W7_ORACLE)
def w7b_running_sum_single_exchange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension — the SINGLE-EXCHANGE global running sum:
    w7_global_running_sum's two-pass decomposition with the second
    (_pid hash) exchange replaced by an Arrow-batched mapInPandas pass
    over the checkpointed range partitions (operators/prefix_sum.py:
    global_prefix_sum_single_exchange). Identical integer result — the
    same ordered-window oracle hash-certifies it — at half the shuffle
    volume, the dominant cost at 100 TB. The per-partition offsets are
    an O(n_partitions) driver reduction, scale-independent."""
    from sales_agent_graphdb_spark.operators.prefix_sum import (
        global_prefix_sum_single_exchange,
    )

    d = catalog.load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.size(tk.ws_tokens(F.col("text"))).cast("int").alias("n_tokens"),
    )
    out = global_prefix_sum_single_exchange(
        t, "doc_id", "n_tokens", out_col="cum_tokens"
    )
    return out.select(
        "doc_id", "n_tokens", F.col("cum_tokens").cast("bigint").alias("cum_tokens")
    ).orderBy("doc_id")


@register(
    "w8_time_range_frame",
    oracle=f"""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
           CAST(SUM({dec6_sql("value")}) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY user_id, event_id
    """,
)
def w8_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 extension — TIME-RANGE window frame (RANGE BETWEEN INTERVAL,
    not ROWS): per-user trailing 1-hour event count and exact-DECIMAL
    value sum — the rolling-window feature a fraud/ops pipeline
    computes per event. Expressed as rangeBetween over unix_micros(ts)
    (Spark's numeric range frame == an interval frame on the epoch),
    mirrored by DuckDB's RANGE over epoch_us: identical frames
    including timestamp-tie peers, which RANGE includes symmetrically
    on both engines — so the result is deterministic even under tied
    event times, where a ROWS frame would not be. Partitioned by
    user_id: the scale-safe window shape."""
    e = catalog.load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            F.count(F.lit(1)).over(w).alias("n_1h"),
            F.sum(dec6("value"))
            .over(w)
            .cast("double")
            .alias("sum_1h"),
        )
        .orderBy("user_id", "event_id")
    )


@register(
    "anomaly_rolling_zscore",
    oracle=f"""
    WITH corpus AS (
      SELECT user_id, event_id, ts, value FROM events
      UNION ALL
      SELECT user_id, -event_id - 1 AS event_id,
             ts + INTERVAL 1 MICROSECOND AS ts, value + 500.0 AS value
      FROM events WHERE event_id % 211 = 0),
    m AS (
      SELECT user_id, event_id, value,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM({dec6_sql("value")}) OVER w AS DOUBLE) AS s1,
             CAST(SUM(CAST(value AS DECIMAL(19,3)) * CAST(value AS DECIMAL(19,3)))
                  OVER w AS DOUBLE) AS s2
      FROM corpus
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 259200000000 PRECEDING AND 1 PRECEDING)),
    scored AS (
      SELECT user_id, event_id, value, n,
             ROUND((value - s1 / n)
                   / sqrt((s2 - (s1 * s1) / n) / (n - 1) + 1e-12), 6) AS z
      FROM m WHERE n >= 5)
    SELECT user_id, event_id, value, n AS n_baseline, z
    FROM scored WHERE abs(z) > 3.0
    ORDER BY user_id, event_id
    """,
)
def anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling self-baseline anomaly detection — the fraud/ops staple:
    each event is z-scored against ITS OWN USER's trailing-72-hour
    value distribution (strictly BEFORE the event: the frame ends at
    1 µs preceding, so an outlier never dilutes its own baseline) and
    flagged when |z| > 3 with at least 5 baseline events.

    The raw synthetic values are uniform (max reachable |z| ≈ 1.7), so
    the corpus plants deterministic spikes — every 211th event gets a
    +500-value copy 1 µs later under a NEGATIVE id (collision-free at
    any SF) — and exactly those must be flagged, making the check
    non-vacuous; the perturbation is mirrored in the oracle (the
    dedup-suite convention).

    Scale shape: one window partitioned by user_id (the w8 time-range
    frame — rangeBetween over unix_micros mirrors DuckDB RANGE over
    epoch_us, tie-peers handled identically). Moments are exact
    DECIMAL window sums; mean/σ/z evaluate in doubles over an
    identical expression tree with a 6-dp round (the
    feature_zscore_stats technique; +1e-12 keeps a constant-valued
    baseline's σ=0 from dividing by zero on both engines).

    The squared term casts value to DECIMAL(19,3) — lossless, the
    synthetic values carry exactly 2 decimal places — so the product
    has scale 6 and fits precision 38 EXACTLY in both engines. At
    (19,6) operands Spark's allowPrecisionLoss produced (38,11),
    rounding the 12th fractional digit while DuckDB kept exact
    (38,12); here the drift feeds the |z| > 3.0 ROW-MEMBERSHIP filter,
    which the 6-dp output round cannot absorb (round-3 advisor
    finding), so the moments themselves must be bit-identical."""
    raw = catalog.load_table(spark, sf_dir, "events")
    spikes = raw.filter(F.col("event_id") % 211 == 0).select(
        "user_id",
        (-F.col("event_id") - 1).alias("event_id"),
        (F.col("ts") + F.expr("interval 1 microsecond")).alias("ts"),
        (F.col("value") + F.lit(500.0)).alias("value"),
    )
    e = raw.select("user_id", "event_id", "ts", "value").unionByName(spikes)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-259_200_000_000, -1)
    )
    d3 = F.col("value").cast("decimal(19,3)")
    m = e.select(
        "user_id",
        "event_id",
        "value",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(dec6("value")).over(w).cast("double").alias("s1"),
        F.sum(d3 * d3).over(w).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = F.round(
        (F.col("value") - s1 / n)
        / F.sqrt((s2 - (s1 * s1) / n) / (n - F.lit(1)) + F.lit(1e-12)),
        6,
    )
    return (
        m.filter(n >= 5)
        .select(
            "user_id",
            "event_id",
            "value",
            n.alias("n_baseline"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 3.0)
        .orderBy("user_id", "event_id")
    )


@register(
    "w10_gaps_islands_streak",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len,
             MIN(d) AS streak_start
      FROM isl GROUP BY user_id, grp)
    SELECT user_id,
           CAST(MAX(len) AS BIGINT) AS longest_streak_days,
           MIN(CASE WHEN len = ml THEN streak_start END) AS streak_start,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM (SELECT *, MAX(len) OVER (PARTITION BY user_id) AS ml FROM streaks)
    GROUP BY user_id ORDER BY user_id
    """,
)
def w10_gaps_islands_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GAPS-AND-ISLANDS — longest consecutive-DAY activity streak per
    user (the retention metric sessionize_gap_batch's second-scale
    sessions can't express): distinct activity days, then the classic
    island key `day - row_number()` (constant within a consecutive
    run, distinct across gaps), a per-island rollup, and the per-user
    maximum with its earliest start date as the tiebreak. All date /
    integer arithmetic — no float surface.

    Scale: the distinct-days reduction happens FIRST (map-side
    combine; the day table is |users|·|active days|, orders of
    magnitude smaller than events), then one hash-by-user shuffle
    carries the window and both rollups — the same single-exchange
    residency as sessionize_gap_batch. Ties between equal-length
    streaks resolve by earliest start on both engines."""
    ev = catalog.load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    isl = days.select(
        "user_id",
        "d",
        F.date_sub(
            "d",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("d"))
            .cast("int"),
        ).alias("grp"),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("streak_start")
    )
    with_max = streaks.withColumn(
        "ml", F.max("len").over(W.partitionBy("user_id"))
    )
    return (
        with_max.groupBy("user_id")
        .agg(
            F.max("len").alias("longest_streak_days"),
            F.min(
                F.when(F.col("len") == F.col("ml"), F.col("streak_start"))
            ).alias("streak_start"),
            F.count(F.lit(1)).alias("n_streaks"),
        )
        .orderBy("user_id")
    )


@register(
    "w11_markov_transitions",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    pairs AS (
      SELECT prev_type, event_type AS next_type FROM o
      WHERE prev_type IS NOT NULL),
    cnt AS (
      SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY prev_type, next_type),
    tot AS (
      SELECT prev_type, SUM(n) AS t FROM cnt GROUP BY prev_type)
    SELECT c.prev_type, c.next_type, c.n,
           ROUND(CAST(c.n AS DOUBLE) / t.t, 6) AS p
    FROM cnt c JOIN tot t USING (prev_type)
    ORDER BY prev_type, next_type
    """,
)
def w11_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST-ORDER MARKOV transition matrix over per-user event
    sequences — the behavioral model behind next-action prediction
    and funnel-drop analysis: lag() pairs each event with its
    predecessor inside the user timeline (ties broken by event_id on
    both engines), pair counts roll up to the |types|² matrix, and
    row-normalized probabilities are ONE integer-derived division
    rounded to 6 dp. The row-sum join is a broadcast of |types| rows.

    Scale: the lag window rides the same single hash-by-user exchange
    as sessionize_gap_batch; the matrix is calendar-of-types-sized
    (25 cells here) regardless of corpus size — at 100 TB the only
    data-sized cost is the user sort, shared with every other
    per-user sequence feature computed in the same pass."""
    ev = catalog.load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .filter(F.col("prev_type").isNotNull())
    )
    cnt = pairs.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cnt.groupBy("prev_type").agg(F.sum("n").alias("t"))
    return (
        cnt.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("t"), 6).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )
