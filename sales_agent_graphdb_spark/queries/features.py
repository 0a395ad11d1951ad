"""Feature-engineering extensions over the fact tables.

The reference has no feature-prep surface at all (SURVEY §2.4/§2.5
record only plain aggregates and no windows); these are the column
statistics a training pipeline computes over 100 TB fact data before
model input: robust clipping (winsorization) and exact correlation
matrices. Both follow the repo's exact-moment technique
(feature_zscore_stats, aggregates.py): all data-sized sums are exact
DECIMAL arithmetic, the closed-form statistic is then evaluated in
doubles over an identical expression tree on both engines, with a
final 6-dp round absorbing the engines' one-ulp DECIMAL→DOUBLE
conversion drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import (
    dec6,
    dec6_sql,
    md5_int,
    md5_int_sql,
    money,
    money_cents,
    money_cents_sql,
    money_sql,
)
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.registry import register


@register(
    "feature_winsorize",
    oracle=f"""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice AS v,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rn,
             COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem),
    cuts AS (
      SELECT l_returnflag,
             CAST(MAX(n) AS BIGINT) AS n_rows,
             MIN(CASE WHEN rn = CAST(ceil(n * 0.01) AS BIGINT) THEN v END) AS lo_cut,
             MIN(CASE WHEN rn = CAST(ceil(n * 0.99) AS BIGINT) THEN v END) AS hi_cut
      FROM r GROUP BY l_returnflag),
    clipped AS (
      SELECT l.l_returnflag, c.n_rows, c.lo_cut, c.hi_cut,
             CASE WHEN l.l_extendedprice < c.lo_cut THEN c.lo_cut
                  WHEN l.l_extendedprice > c.hi_cut THEN c.hi_cut
                  ELSE l.l_extendedprice END AS cv,
             CAST(l.l_extendedprice < c.lo_cut AS BIGINT) AS is_lo,
             CAST(l.l_extendedprice > c.hi_cut AS BIGINT) AS is_hi
      FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag)
    SELECT l_returnflag,
           CAST(MAX(n_rows) AS BIGINT) AS n_rows,
           MAX(lo_cut) AS lo_cut, MAX(hi_cut) AS hi_cut,
           CAST(SUM(is_lo) AS BIGINT) AS n_clipped_low,
           CAST(SUM(is_hi) AS BIGINT) AS n_clipped_high,
           ROUND(CAST(SUM({dec6_sql("cv")}) AS DOUBLE) / MAX(n_rows), 6)
             AS mean_winsorized
    FROM clipped GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def feature_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust clipping (winsorization at p01/p99) — the outlier
    treatment applied to numeric features before training. Two passes:
    (1) EXACT cut values per group by position-pick (rank within the
    (group, value) window; value-at-rank is deterministic under ties
    because tied ranks hold the same value), (2) the tiny cuts frame
    (one row per group) broadcast back onto the fact scan, clip, and an
    exact-DECIMAL mean of the clipped column. The second pass is
    map-side-combinable; only pass 1 sorts, sharded by group — the
    100 TB degradation path is the same GK-sketch cut as
    pct_approx_value, verified here in its exact form."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    wr = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    wn = W.partitionBy("l_returnflag")
    r = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: float, alias: str):
        pos = F.ceil(F.col("n") * F.lit(p)).cast("long")
        return F.min(F.when(F.col("rn") == pos, F.col("v"))).alias(alias)

    cuts = r.groupBy("l_returnflag").agg(
        F.max("n").alias("n_rows"), pick(0.01, "lo_cut"), pick(0.99, "hi_cut")
    )
    j = li.join(F.broadcast(cuts), "l_returnflag")
    cv = (
        F.when(F.col("l_extendedprice") < F.col("lo_cut"), F.col("lo_cut"))
        .when(F.col("l_extendedprice") > F.col("hi_cut"), F.col("hi_cut"))
        .otherwise(F.col("l_extendedprice"))
    )
    return (
        j.groupBy("l_returnflag")
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("lo_cut").alias("lo_cut"),
            F.max("hi_cut").alias("hi_cut"),
            F.sum((F.col("l_extendedprice") < F.col("lo_cut")).cast("long")).alias(
                "n_clipped_low"
            ),
            F.sum((F.col("l_extendedprice") > F.col("hi_cut")).cast("long")).alias(
                "n_clipped_high"
            ),
            F.round(F.sum(dec6(cv)).cast("double") / F.max("n_rows"), 6).alias("mean_winsorized"),
        )
        .orderBy("l_returnflag")
    )


# The three lineitem measure pairs whose linear relationship a feature
# audit checks. Declared once; the oracle below is generated from the
# same list so the two sides cannot drift.
_CORR_PAIRS = [
    ("l_quantity", "l_extendedprice"),
    ("l_quantity", "l_discount"),
    ("l_extendedprice", "l_discount"),
]


def _corr_pair_sql(x: str, y: str) -> str:
    return f"""
    SELECT '{x}' AS col_x, '{y}' AS col_y,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
             AS corr
    FROM (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST({x} AS DECIMAL(19,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST({y} AS DECIMAL(19,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST({x} AS DECIMAL(19,6)) * CAST({x} AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST({y} AS DECIMAL(19,6)) * CAST({y} AS DECIMAL(19,6))) AS DOUBLE) AS syy,
             CAST(SUM(CAST({x} AS DECIMAL(19,6)) * CAST({y} AS DECIMAL(19,6))) AS DOUBLE) AS sxy
      FROM lineitem)
    """


@register(
    "feature_correlation",
    oracle=" UNION ALL ".join(
        _corr_pair_sql(x, y) for x, y in _CORR_PAIRS
    )
    + " ORDER BY col_x, col_y",
)
def feature_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation matrix (long form) over lineitem
    measure pairs — the feature-audit primitive that catches redundant
    or leaking features before training. Spark's built-in ``corr`` is
    a streaming co-moment kernel whose intermediate rounding is
    engine-specific; the portable form is the five EXACT DECIMAL power
    sums per pair (one map-side-combinable pass over the fact scan for
    ALL pairs together), then the closed-form correlation in doubles
    with an identical expression tree, rounded to 6 dp (the
    feature_zscore_stats technique). The result is |pairs| rows from a
    single scan — no shuffle grows with the data."""
    li = catalog.load_table(spark, sf_dir, "lineitem")

    def d6(c: str):
        return F.col(c).cast("decimal(19,6)")

    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for x, y in _CORR_PAIRS:
        tag = f"{x}__{y}"
        aggs += [
            F.sum(d6(x)).cast("double").alias(f"sx_{tag}"),
            F.sum(d6(y)).cast("double").alias(f"sy_{tag}"),
            F.sum(d6(x) * d6(x)).cast("double").alias(f"sxx_{tag}"),
            F.sum(d6(y) * d6(y)).cast("double").alias(f"syy_{tag}"),
            F.sum(d6(x) * d6(y)).cast("double").alias(f"sxy_{tag}"),
        ]
    m = li.agg(*aggs)

    # One row of moments -> |pairs| result rows via inline(array<struct>):
    # the fact table is scanned exactly once for the whole matrix.
    def corr_struct(x: str, y: str):
        tag = f"{x}__{y}"
        n = F.col("n")
        sx, sy = F.col(f"sx_{tag}"), F.col(f"sy_{tag}")
        sxx, syy, sxy = F.col(f"sxx_{tag}"), F.col(f"syy_{tag}"), F.col(f"sxy_{tag}")
        return F.struct(
            F.lit(x).alias("col_x"),
            F.lit(y).alias("col_y"),
            F.round(
                (n * sxy - sx * sy)
                / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
                6,
            ).alias("corr"),
        )

    return m.select(
        F.inline(F.array(*[corr_struct(x, y) for x, y in _CORR_PAIRS]))
    ).orderBy("col_x", "col_y")

# Robust outlier stats: median / MAD / modified z-score flags. The
# classic robust alternative to mean/stddev z-scores
# (feature_zscore_stats, anomaly_rolling_zscore): a handful of extreme
# values cannot move the median or the MAD, so the threshold stays
# meaningful under contamination — exactly the property a data-quality
# gate needs on raw event streams. 1.4826 is the standard
# normal-consistency constant (modified z = 0.6745*(x-med)/MAD; flag
# at |z| > 3.5 <=> |x-med| > 3.5*1.4826*MAD). Both medians are
# percentile_disc / quantile_disc — a DISCRETE pick of an actual data
# value (no interpolation arithmetic), which the two engines resolve
# identically (verified: lower-middle at even counts), so every double
# in the comparison chain is bit-shared.
_MAD_K = 1.4826
_MAD_CUT = 3.5

_MAD_SQL = """
    WITH m AS (
      SELECT event_type, {pdisc_value} AS med
      FROM {ev} GROUP BY event_type),
    d AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev
      FROM {ev} e JOIN m USING (event_type)),
    s AS (
      SELECT event_type, any_value(med) AS med, {pdisc_dev} AS mad
      FROM d GROUP BY event_type)
    SELECT d.event_type,
           CAST(any_value(s.med) AS DOUBLE) AS med,
           CAST(any_value(s.mad) AS DOUBLE) AS mad,
           CAST(SUM(CASE WHEN d.dev > {cut} * {k} * s.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM d JOIN s USING (event_type)
    GROUP BY d.event_type ORDER BY d.event_type
"""


@register(
    "anomaly_mad_robust_z",
    oracle=_MAD_SQL.format(
        ev="events",
        pdisc_value="quantile_disc(value, 0.5)",
        pdisc_dev="quantile_disc(dev, 0.5)",
        cut=_MAD_CUT,
        k=_MAD_K,
    ),
)
def anomaly_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier profile (see the _MAD_K comment):
    median, MAD, and the count of modified-z outliers at the standard
    3.5 cut. Three grouped passes over the fact (median, MAD over
    deviations, flag count), each a per-type aggregate; the 5-row
    med/MAD frames broadcast back onto the fact. Scale note: EXACT
    percentile_disc buffers a group's values in its aggregate state —
    this operator is the family's exactness anchor; at 100 TB the
    same shape runs on approx_percentile or the equi-depth histogram
    (agg_equidepth_histogram), trading the bit-exact median for fixed
    memory, and the flag-count pass is unchanged."""
    catalog.load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "mad_events"
    )
    return spark.sql(
        _MAD_SQL.format(
            ev="mad_events",
            pdisc_value=(
                "percentile_disc(0.5) WITHIN GROUP (ORDER BY value)"
            ),
            pdisc_dev="percentile_disc(0.5) WITHIN GROUP (ORDER BY dev)",
            cut=_MAD_CUT,
            k=_MAD_K,
        )
    )


@register(
    "stats_ab_test_lift",
    oracle=f"""
    WITH arms AS (
      SELECT user_id,
             CASE WHEN {md5_int_sql("user_id", "ab8")} % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id),
    agg AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM arms GROUP BY arm),
    w AS (
      SELECT MAX(CASE WHEN arm = 'control' THEN n END) AS n_c,
             MAX(CASE WHEN arm = 'control' THEN conv END) AS x_c,
             MAX(CASE WHEN arm = 'treatment' THEN n END) AS n_t,
             MAX(CASE WHEN arm = 'treatment' THEN conv END) AS x_t
      FROM agg)
    SELECT n_c, x_c, n_t, x_t,
           ROUND(CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c, 6)
             AS lift_abs,
           ROUND((CAST(x_t AS DOUBLE) / n_t - CAST(x_c AS DOUBLE) / n_c)
                 / sqrt((CAST(x_t + x_c AS DOUBLE) / (n_t + n_c))
                        * (1.0 - CAST(x_t + x_c AS DOUBLE) / (n_t + n_c))
                        * (1.0 / n_t + 1.0 / n_c)), 6) AS z_stat
    FROM w
    """,
)
def stats_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT readout — deterministic md5 arm assignment (the
    hash-bucketing every experimentation platform uses, so assignment
    is stable under re-ingestion and reproducible in the oracle),
    per-user conversion (a purchase above 150 — measured rates
    47/45/47% at the three SFs, strictly interior so the pooled
    variance never degenerates; 'any purchase' converts 100% of this
    corpus and the z-statistic would divide by zero), and the
    two-proportion pooled
    z-statistic. Every operation is hash/count/division/sqrt — sqrt
    is IEEE-754 correctly-rounded (unlike exp/log), so the whole
    statistic chain is bit-identical across engines with no
    quantization needed; one 6-dp presentation round.

    Scale: arm + conversion is one groupBy(user) with map-side
    combine; the readout is a 2-row fold. At 100 TB this runs per
    (experiment, day, segment) over the same pass — the z-test is
    the gate before any lift ships."""
    ev = catalog.load_table(spark, sf_dir, "events")
    arm = F.when(md5_int("user_id", "ab8") % 2 == 0, "control").otherwise("treatment")
    arms = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).withColumn("arm", arm)
    agg = arms.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    w = agg.agg(
        F.max(F.when(F.col("arm") == "control", F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == "control", F.col("conv"))).alias("x_c"),
        F.max(F.when(F.col("arm") == "treatment", F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == "treatment", F.col("conv"))).alias("x_t"),
    )
    p_t = F.col("x_t").cast("double") / F.col("n_t")
    p_c = F.col("x_c").cast("double") / F.col("n_c")
    p_pool = (F.col("x_t") + F.col("x_c")).cast("double") / (
        F.col("n_t") + F.col("n_c")
    )
    se = F.sqrt(
        p_pool
        * (F.lit(1.0) - p_pool)
        * (F.lit(1.0) / F.col("n_t") + F.lit(1.0) / F.col("n_c"))
    )
    return w.select(
        "n_c",
        "x_c",
        "n_t",
        "x_t",
        F.round(p_t - p_c, 6).alias("lift_abs"),
        F.round((p_t - p_c) / se, 6).alias("z_stat"),
    )


@register(
    "feature_target_encoding_loo",
    oracle=f"""
    WITH base AS (
      SELECT l.l_orderkey, l.l_linenumber, p.p_brand AS brand,
             {money_sql("l.l_extendedprice")} AS y
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    stats AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(y) AS s
      FROM base GROUP BY brand)
    SELECT b.l_orderkey, b.l_linenumber, b.brand,
           ROUND(CAST(b.y AS DOUBLE), 2) AS y,
           ROUND(CAST(s.s - b.y AS DOUBLE) / (s.n - 1), 6) AS loo_encoding
    FROM base b JOIN stats s USING (brand)
    WHERE b.l_orderkey < 20
    ORDER BY b.l_orderkey, b.l_linenumber
    """,
)
def feature_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT TARGET ENCODING — the high-cardinality
    categorical encoder of tabular ML prep: each row's brand is
    replaced by the mean target (line revenue) of all OTHER rows in
    the brand, (S_brand − y_row)/(n_brand − 1), which blocks the
    self-leakage plain mean encoding suffers (the reason
    split_leakage_safe exists for rows, applied here at feature
    level). Per-brand S in exact DECIMAL (order-independent); the LOO
    value is ONE double division per row, rounded 6 dp. Output
    restricted to a deterministic order slice so the driver frame
    stays bounded while every brand contributes rows.

    Scale: ONE brand aggregate (map-side combinable) broadcast back —
    never a self-join of the fact; the encode pass is map-side. At
    100 TB this fuses into the feature build beside
    feature_zscore_stats; the k-fold variant swaps the one broadcast
    for one-per-fold."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    p = catalog.load_table(spark, sf_dir, "part")
    base = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p_brand").alias("brand"),
        money("l_extendedprice").alias("y"),
    )
    stats = base.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    return (
        base.filter(F.col("l_orderkey") < 20)
        .join(F.broadcast(stats), "brand")
        .select(
            "l_orderkey",
            "l_linenumber",
            "brand",
            F.round(F.col("y").cast("double"), 2).alias("y"),
            F.round(
                (F.col("s") - F.col("y")).cast("double") / (F.col("n") - 1), 6
            ).alias("loo_encoding"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "stats_roc_auc",
    oracle=f"""
    WITH s AS (
      SELECT {money_sql("value")} AS sc,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS np
      FROM events GROUP BY sc),
    w AS (
      SELECT np, n,
             COALESCE(SUM(n) OVER (ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cb
      FROM s),
    t AS (
      SELECT CAST(SUM(np * (2 * cb + n + 1)) AS BIGINT) AS s2,
             CAST(SUM(np) AS BIGINT) AS npos,
             CAST(SUM(n) - SUM(np) AS BIGINT) AS nneg
      FROM w)
    SELECT npos AS n_pos, nneg AS n_neg,
           ROUND((CAST(s2 AS DOUBLE) / 2
                  - CAST(npos AS DOUBLE) * (npos + 1) / 2)
                 / (CAST(npos AS DOUBLE) * nneg), 6) AS auc
    FROM t
    """,
)
def stats_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC, exactly, in one distributed pass — the rank-sum
    (Mann-Whitney U) identity every large-scale model eval uses:
    AUC = (R_pos − n_pos(n_pos+1)/2) / (n_pos·n_neg), where R_pos is
    the sum of positive-class ranks with MIDPOINT TIE RANKS. Scoring
    'is this event a purchase?' by the event value. Everything until
    the final closed form is INTEGER: scores quantize exactly to
    DECIMAL(18,2) (they are stored 2-dp doubles), per-score (n, n_pos)
    come from one map-side-combinable aggregate, the cumulative
    below-count from one window over the SCORE-LEVEL frame, and
    2·rank_avg = 2·cum_before + n + 1 keeps the midpoint ranks in
    integers. The closed form is then evaluated in doubles over an
    identical expression tree on both engines (products of exact
    <2^53 integers, one division), one 6-dp presentation round.

    Scale: the events table is touched by ONE aggregate keyed by
    score; the window runs over the |distinct scores| frame (bounded
    by the score's fixed precision, NOT the data — the same
    bounded-frame exception as text_vocab_build / w9). At 100 TB this
    is the standard histogram-AUC: no global sort of raw rows, no
    per-row ranks."""
    ev = catalog.load_table(spark, sf_dir, "events")
    s = ev.groupBy(money("value").alias("sc")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("np"),
    )
    w = W.orderBy("sc").rowsBetween(W.unboundedPreceding, -1)
    t = s.select(
        "np",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cb"),
    ).agg(
        F.sum(F.col("np") * (2 * F.col("cb") + F.col("n") + 1)).alias("s2"),
        F.sum("np").alias("npos"),
        (F.sum("n") - F.sum("np")).alias("nneg"),
    )
    return t.select(
        F.col("npos").alias("n_pos"),
        F.col("nneg").alias("n_neg"),
        F.round(
            (
                F.col("s2").cast("double") / 2
                - F.col("npos").cast("double") * (F.col("npos") + 1) / 2
            )
            / (F.col("npos").cast("double") * F.col("nneg")),
            6,
        ).alias("auc"),
    )


@register(
    "stats_diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT CASE WHEN {md5_int_sql("user_id", "did9")} % 2 = 0
                  THEN 'treat' ELSE 'control' END AS arm,
             CASE WHEN ts < TIMESTAMP '2024-01-15 00:00:00'
                  THEN 'pre' ELSE 'post' END AS period,
             {money_sql("value")} AS v
      FROM events),
    m AS (
      SELECT arm, period,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v) AS DOUBLE) / COUNT(*) AS mean_v
      FROM cells GROUP BY arm, period)
    SELECT
      (SELECT n FROM m WHERE arm = 'treat' AND period = 'pre') AS n_t_pre,
      (SELECT n FROM m WHERE arm = 'treat' AND period = 'post') AS n_t_post,
      (SELECT n FROM m WHERE arm = 'control' AND period = 'pre') AS n_c_pre,
      (SELECT n FROM m WHERE arm = 'control' AND period = 'post') AS n_c_post,
      ROUND((SELECT mean_v FROM m WHERE arm = 'treat' AND period = 'post')
            - (SELECT mean_v FROM m WHERE arm = 'treat' AND period = 'pre')
            - ((SELECT mean_v FROM m WHERE arm = 'control' AND period = 'post')
               - (SELECT mean_v FROM m WHERE arm = 'control' AND period = 'pre')),
            6) AS did_estimate
    """,
)
def stats_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES readout — the quasi-experimental
    sibling of the A/B z-test (stats_ab_test_lift): when assignment
    is not randomized per-exposure, the causal estimate is the
    treated arm's pre→post change MINUS the control arm's — the
    parallel-trends identification every observational launch
    analysis leans on. Arms come from the same md5 hash-bucketing
    discipline (stable under re-ingestion, reproducible in SQL); the
    period boundary is a fixed calendar instant. Numerics: per-cell
    sums in exact DECIMAL(18,2) (the values are stored 2-dp doubles),
    each mean is ONE exact-sum / exact-count division, and the DiD
    closed form is three subtractions over the four identically-
    derived doubles — bit-equal across engines, one 6-dp presentation
    round. On this synthetic stream the estimate is a null-effect ≈0
    by construction — which is the correct reading: the machinery is
    certified on data where the true effect is known to be nothing.

    Scale: ONE groupBy(arm, period) with map-side combine over the
    events table — 4 cells out, closed form on the driver side of the
    plan; at 100 TB this runs per (experiment, segment) in the same
    pass."""
    ev = catalog.load_table(spark, sf_dir, "events")
    arm = F.when(md5_int("user_id", "did9") % 2 == 0, "treat").otherwise("control")
    period = F.when(
        F.col("ts") < F.lit("2024-01-15 00:00:00").cast("timestamp"), "pre"
    ).otherwise("post")
    m = (
        ev.select(
            arm.alias("arm"),
            period.alias("period"),
            money("value").alias("v"),
        )
        .groupBy("arm", "period")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("v").cast("double") / F.count(F.lit(1))).alias("mean_v"),
        )
    )
    cell = lambda a, p, c: F.max(  # noqa: E731 — one row per (arm, period)
        F.when((F.col("arm") == a) & (F.col("period") == p), F.col(c))
    )
    return m.agg(
        cell("treat", "pre", "n").alias("n_t_pre"),
        cell("treat", "post", "n").alias("n_t_post"),
        cell("control", "pre", "n").alias("n_c_pre"),
        cell("control", "post", "n").alias("n_c_post"),
        F.round(
            cell("treat", "post", "mean_v")
            - cell("treat", "pre", "mean_v")
            - (cell("control", "post", "mean_v") - cell("control", "pre", "mean_v")),
            6,
        ).alias("did_estimate"),
    )


@register(
    "stats_calibration_bins",
    oracle=f"""
    WITH b AS (
      SELECT CAST({money_cents_sql("value")} // 5600
                  AS INT) AS bin,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events)
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
    FROM b GROUP BY bin ORDER BY bin
    """,
)
def stats_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability) BINS — the companion readout to
    stats_roc_auc: AUC certifies RANKING, calibration certifies that
    scores mean what they say. The score axis (event value) is cut
    into 10 FIXED-WIDTH bins via exact integer arithmetic (cents div
    5600 — fixed-width instead of deciles precisely so the binning
    needs no quantile pass and no window: at 100 TB the reliability
    diagram is one map-side-combinable groupBy), and each bin reports
    its empirical positive rate — one exact-int/exact-int division,
    6-dp round. A calibrated scorer shows pos_rate rising with bin;
    this synthetic stream's flat profile is the null baseline the
    machinery is certified on. Integer-division parity holds on the
    FULL domain, negatives included: Spark `div` and DuckDB `//` BOTH
    truncate toward zero (measured r10 — the ADVICE r09 floor claim
    was false; tests/test_round10_ops.py pins the agreement).

    Scale: ONE aggregate over events, 10 rows out — the cheapest
    model-quality artifact there is, and the one that catches
    overconfident classifiers AUC cannot."""
    ev = catalog.load_table(spark, sf_dir, "events")
    bin_col = F.expr(f"cast({money_cents_sql('value')} div 5600 as int)")
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return (
        ev.select(bin_col.alias("bin"), y.alias("y"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.round(F.sum("y").cast("double") / F.count(F.lit(1)), 6).alias(
                "pos_rate"
            ),
        )
        .orderBy("bin")
    )


_KS_ARM = f"{md5_int_sql('user_id', 'ks10')} % 2"


@register(
    "stats_ks_two_sample",
    oracle=f"""
    WITH t AS (
      SELECT {money_cents_sql("value")} AS cents,
             CASE WHEN {_KS_ARM} = 0 THEN 1 ELSE 0 END AS a
      FROM events),
    g AS (
      SELECT cents, CAST(SUM(a) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(a) AS BIGINT) AS n2
      FROM t GROUP BY cents),
    c AS (
      SELECT SUM(n1) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             SUM(n2) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM g),
    tot AS (SELECT CAST(SUM(n1) AS BIGINT) AS nt, CAST(SUM(n2) AS BIGINT) AS nc
            FROM g)
    SELECT tot.nt AS n_treat, tot.nc AS n_control,
           CAST(MAX(ABS(c.c1 * tot.nc - c.c2 * tot.nt)) AS BIGINT) AS d_scaled,
           ROUND(CAST(MAX(ABS(c.c1 * tot.nc - c.c2 * tot.nt)) AS DOUBLE)
                 / (tot.nt * tot.nc), 6) AS d_stat
    FROM c, tot GROUP BY tot.nt, tot.nc
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV statistic — the distribution-level
    companion to stats_ab_test_lift's mean test: D = max_x |F1(x) -
    F2(x)| detects ANY distributional shift (shape, variance, tails)
    between the two md5-assigned arms, not just a mean move — the
    standard gate for "did the treatment change the value
    distribution" and for feature drift between training snapshots.

    Exactness: D is computed as an integer — max |cum1*N2 - cum2*N1|
    over the per-cent histogram (counts <= 6e4 at sf0.01, products
    <= ~4e9, exact in BIGINT) — and only the final presentation
    divides by N1*N2 (one double division + 6-dp round, identical on
    both engines). The same histogram trick as stats_roc_auc: the
    global cumulative window runs over the |distinct cents| frame
    (bounded by value precision, ~5.6k rows), never the raw events —
    at 100 TB the shuffle is histogram-sized, map-side combinable.

    On this synthetic stream the arms are exchangeable so D ~ 0 —
    the correct null baseline, same discipline as stats_diff_in_diff.
    """
    ev = catalog.load_table(spark, sf_dir, "events")
    arm_treat = md5_int("user_id", "ks10") % 2 == 0
    g = (
        ev.select(
            money_cents("value").alias("cents"),
            F.when(arm_treat, 1).otherwise(0).alias("a"),
        )
        .groupBy("cents")
        .agg(
            F.sum("a").alias("n1"),
            (F.count(F.lit(1)) - F.sum("a")).alias("n2"),
        )
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select(
        F.sum("n1").over(w).alias("c1"),
        F.sum("n2").over(w).alias("c2"),
    )
    tot = g.agg(
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("n2").cast("bigint").alias("nc"),
    )
    return (
        c.crossJoin(F.broadcast(tot))
        .groupBy("nt", "nc")
        .agg(
            F.max(F.abs(F.col("c1") * F.col("nc") - F.col("c2") * F.col("nt")))
            .cast("bigint")
            .alias("d_scaled")
        )
        .select(
            F.col("nt").alias("n_treat"),
            F.col("nc").alias("n_control"),
            "d_scaled",
            F.round(
                F.col("d_scaled").cast("double") / (F.col("nt") * F.col("nc")), 6
            ).alias("d_stat"),
        )
    )


_CUPED_ARM = f"{md5_int_sql('u.user_id', 'ab8')} % 2"


@register(
    "stats_cuped_variance_reduction",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             SUM(CASE WHEN ts <  TIMESTAMP '2024-01-15 00:00:00'
                      THEN {money_sql("value")} ELSE {money_sql("0")} END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15 00:00:00'
                      THEN {money_sql("value")} ELSE {money_sql("0")} END) AS y
      FROM events GROUP BY user_id),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(y * y AS DECIMAL(38,4))) AS DOUBLE) AS syy,
             CAST(SUM(CASE WHEN {_CUPED_ARM} = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS nt,
             CAST(SUM(CASE WHEN {_CUPED_ARM} = 0 THEN x ELSE {money_sql("0")} END) AS DOUBLE) AS sxt,
             CAST(SUM(CASE WHEN {_CUPED_ARM} = 0 THEN y ELSE {money_sql("0")} END) AS DOUBLE) AS syt
      FROM u)
    SELECT CAST(n AS BIGINT) AS n_users,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta,
           ROUND(1.0 - (syy - 2 * ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sxy
                        + ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                          * ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sxx
                        - (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx)
                          * (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n)
                       / (syy - sy * sy / n), 6) AS var_reduction,
           ROUND(syt / nt - (sy - syt) / (n - nt)
                 - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                   * (sxt / nt - (sx - sxt) / (n - nt)), 6) AS lift_cuped,
           ROUND(syt / nt - (sy - syt) / (n - nt), 6) AS lift_raw
    FROM m
    """,
)
def stats_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data) — the
    industry-standard variance-reduction adjustment next to the A/B
    readout (stats_ab_test_lift) and DiD (stats_diff_in_diff): each
    user's post-period outcome Y is adjusted by their own pre-period
    covariate X, Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), which
    shrinks metric variance by corr²(X,Y) and keeps the treatment
    estimate unbiased (arm assignment is independent of pre-period
    behavior). Reported: θ, the achieved variance-reduction fraction,
    and the arm lift both raw and CUPED-adjusted — on this synthetic
    null-effect stream the two lifts agree ≈0 and the reduction is
    the honest corr² of pre/post user activity.

    Exactness: per-user X/Y are exact DECIMAL period sums (one
    groupBy), every population moment (Σx, Σy, Σx², Σxy, Σy², per-arm
    sums) is an exact DECIMAL sum of exact DECIMAL products, and the
    closed forms evaluate in doubles over an identical expression
    tree on both engines with one 6-dp round — the
    feature_correlation discipline at user grain.

    Scale: two map-side-combinable aggregations (events → users →
    one moments row); nothing but group partials ever moves. At
    100 TB this is the cheapest variance win an experimentation
    platform ships."""
    ev = catalog.load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    dec0 = money(F.lit(0))
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, money("value")).otherwise(dec0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, money("value")).otherwise(dec0)).alias("y"),
    )
    treat = md5_int("user_id", "ab8") % 2 == 0
    m = u.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)"))
        .cast("double")
        .alias("syy"),
        F.sum(F.when(treat, 1).otherwise(0)).cast("double").alias("nt"),
        F.sum(F.when(treat, F.col("x")).otherwise(dec0))
        .cast("double")
        .alias("sxt"),
        F.sum(F.when(treat, F.col("y")).otherwise(dec0))
        .cast("double")
        .alias("syt"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    nt, sxt, syt = F.col("nt"), F.col("sxt"), F.col("syt")
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    # var(Y') * n = Σy² − 2θΣxy + θ²Σx² − (Σy − θΣx)²/n (identical tree
    # on both sides; θ is spelled out inline in the SQL oracle)
    var_adj = syy - 2 * theta * sxy + theta * theta * sxx - (
        (sy - theta * sx) * (sy - theta * sx) / n
    )
    var_raw = syy - sy * sy / n
    lift_raw = syt / nt - (sy - syt) / (n - nt)
    lift_cuped = lift_raw - theta * (sxt / nt - (sx - sxt) / (n - nt))
    return m.select(
        n.cast("bigint").alias("n_users"),
        F.round(theta, 6).alias("theta"),
        F.round(F.lit(1.0) - var_adj / var_raw, 6).alias("var_reduction"),
        F.round(lift_cuped, 6).alias("lift_cuped"),
        F.round(lift_raw, 6).alias("lift_raw"),
    )


# z-quantiles for alpha=0.05 (two-sided) and power=0.80, precomputed
# ONCE here as literals inlined into BOTH statements — no inverse-CDF
# (transcendental) ever executes in either engine.
_Z_ALPHA_2 = 1.959964
_Z_BETA = 0.841621
_POWER_EFFECT_FRAC = 0.02  # minimum detectable effect: 2% of the mean


@register(
    "stats_power_analysis",
    oracle=f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM({money_sql("value")}) AS DOUBLE) AS s,
             CAST(SUM(CAST({money_sql("value")}
                           * {money_sql("value")} AS DECIMAL(38,4)))
                  AS DOUBLE) AS ss
      FROM events WHERE event_type = 'purchase')
    SELECT n AS n_obs,
           ROUND(s / n, 6) AS mean_value,
           ROUND(sqrt((n * ss - s * s) / (n * (n - 1.0))), 6) AS sd_value,
           ROUND({_POWER_EFFECT_FRAC} * s / n, 6) AS delta_target,
           CAST(CEIL(2.0 * ((n * ss - s * s) / (n * (n - 1.0)))
                     * ({_Z_ALPHA_2} + {_Z_BETA}) * ({_Z_ALPHA_2} + {_Z_BETA})
                     / (({_POWER_EFFECT_FRAC} * s / n)
                        * ({_POWER_EFFECT_FRAC} * s / n)))
                AS BIGINT) AS n_required_per_arm
    FROM m
    """,
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B SAMPLE-SIZE (power) ANALYSIS — the question every
    experiment starts with: how many observations per arm to detect a
    2% lift in purchase value at alpha=0.05 (two-sided) with 80%
    power? n/arm = 2·sigma²·(z_alpha/2 + z_beta)² / delta² — the
    workhorse normal-approximation formula. The z-quantiles are
    PRECOMPUTED literals inlined into both statements (the Benford
    discipline: no transcendental inverse-CDF executes in either
    engine); sigma² comes from exact DECIMAL moments (n·Σv² − (Σv)²
    over n(n−1)), evaluated in doubles on an identical expression
    tree; sqrt is IEEE-correctly-rounded and safe in hashed output
    (the stats_ab_test_lift precedent); CEIL of the identical double
    is identical.

    Scale: one filtered map-side-combinable aggregate — three partials
    move, nothing else. The cheapest pre-experiment artifact there is,
    and the one that prevents underpowered launches."""
    ev = catalog.load_table(spark, sf_dir, "events")
    v = money("value")
    m = ev.filter(F.col("event_type") == "purchase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(v).cast("double").alias("s"),
        F.sum((v * v).cast("decimal(38,4)")).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    var = (n * ss - s * s) / (n * (n - F.lit(1.0)))
    delta = F.lit(_POWER_EFFECT_FRAC) * s / n
    z = F.lit(_Z_ALPHA_2) + F.lit(_Z_BETA)
    return m.select(
        n.alias("n_obs"),
        F.round(s / n, 6).alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("sd_value"),
        F.round(delta, 6).alias("delta_target"),
        F.ceil(F.lit(2.0) * var * z * z / (delta * delta))
        .cast("bigint")
        .alias("n_required_per_arm"),
    )


_MW_ARM = f"{md5_int_sql('user_id', 'mw11')} % 2"


@register(
    "stats_mann_whitney_u",
    oracle=f"""
    WITH t AS (
      SELECT {money_cents_sql("value")} AS cents,
             CASE WHEN {_MW_ARM} = 0 THEN 1 ELSE 0 END AS a
      FROM events),
    g AS (
      SELECT cents, CAST(SUM(a) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(a) AS BIGINT) AS n2
      FROM t GROUP BY cents),
    c AS (
      SELECT n1, n2,
             SUM(n2) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2
      FROM g),
    u AS (
      SELECT CAST(SUM(CAST(n1 AS DECIMAL(19,0))
                      * CAST(2 * c2 - n2 AS DECIMAL(19,0))) AS DOUBLE)
               AS u1_x2,
             CAST(SUM(n1) AS BIGINT) AS nt,
             CAST(SUM(n2) AS BIGINT) AS nc
      FROM c)
    SELECT nt AS n_treat, nc AS n_control, u1_x2,
           ROUND(u1_x2 / (2.0 * nt * nc), 6) AS effect_cl
    FROM u
    """,
)
def stats_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MANN-WHITNEY U — the rank-based two-sample test next to the KS
    distance: U1 counts (treatment, control) pairs where treatment
    wins (+ half credit for ties), so U1/(n1*n2) is the
    common-language effect size P(X>Y) + P(X=Y)/2 — the same quantity
    as a classifier AUC, and the robust alternative to the t-test
    when values are heavy-tailed (purchase values are).

    Exactness: the pairwise count never enumerates pairs — over the
    per-cent histogram, 2*U1 = SUM_v n1(v) * (2*cumB(<v) + n2(v))
    = SUM_v n1(v) * (2*c2(v) - n2(v)) with c2 the inclusive control
    cumsum, an INTEGER identity (the tie half-credit rides the
    factor-2 scaling). The sum is carried in DECIMAL(38,0) — n1*n2
    pairs pass BIGINT near ~3e9 rows per arm — and cast to double
    only at output (integral and < 2^53 at driver SFs, so exact);
    ONE double division yields the effect size. Same saturating
    histogram trick as stats_ks_two_sample/roc_auc: the cumulative
    window runs over |distinct cents| (~5.6k), never raw events.

    Null baseline by design: the md5 arms are exchangeable, so the
    effect size sits at ~0.5 — the discipline every stats_* query
    here follows."""
    ev = catalog.load_table(spark, sf_dir, "events")
    arm_treat = md5_int("user_id", "mw11") % 2 == 0
    g = (
        ev.select(
            money_cents("value").alias("cents"),
            F.when(arm_treat, 1).otherwise(0).alias("a"),
        )
        .groupBy("cents")
        .agg(
            F.sum("a").alias("n1"),
            (F.count(F.lit(1)) - F.sum("a")).alias("n2"),
        )
    )
    w = W.orderBy("cents").rowsBetween(W.unboundedPreceding, W.currentRow)
    c = g.select("n1", "n2", F.sum("n2").over(w).alias("c2"))
    u = c.agg(
        F.sum(
            F.col("n1").cast("decimal(19,0)")
            * (F.lit(2) * F.col("c2") - F.col("n2")).cast("decimal(19,0)")
        )
        .cast("double")
        .alias("u1_x2"),
        F.sum("n1").cast("bigint").alias("nt"),
        F.sum("n2").cast("bigint").alias("nc"),
    )
    return u.select(
        F.col("nt").alias("n_treat"),
        F.col("nc").alias("n_control"),
        "u1_x2",
        F.round(
            F.col("u1_x2") / (F.lit(2.0) * F.col("nt") * F.col("nc")), 6
        ).alias("effect_cl"),
    )


@register(
    "stats_gini_concentration",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM({money_sql("o_totalprice")}) * 100 AS BIGINT)
               AS cents
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS i
      FROM spend),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(i AS DECIMAL(19,0))
                      * CAST(cents AS DECIMAL(19,0))) AS DOUBLE) AS ws
      FROM r)
    SELECT n AS n_customers,
           ROUND(s / 100.0, 2) AS total_spend,
           ROUND((2.0 * ws - (n + 1.0) * s) / (n * s), 6) AS gini
    FROM m
    """,
)
def stats_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of customer spend concentration — "what share
    of revenue sits with the top customers": G = (2*SUM i*x_(i)
    - (n+1)*SUM x) / (n*SUM x) over the ascending-sorted per-customer
    totals, the closed rank form of the Lorenz-curve area. The
    standard concentration/inequality KPI for revenue, token budgets,
    and data-source mix audits.

    Exactness: spend is aggregated in DECIMAL cents (BIGINT per
    customer), the rank weight i*x_i is a DECIMAL(19,0)*DECIMAL(19,0)
    product summed in DECIMAL(38,0), and the G formula is evaluated
    in doubles on an identical expression tree with one 6-dp round.
    Ties carry a total (cents, custkey) rank order on both engines.

    Scale: the global rank window runs over the AGGREGATED
    per-customer frame — |customers| rows, not orders (the same
    aggregate-first collapse as pct_exact_disc); at 100 TB the
    window input is the dimension cardinality and the fact table
    never leaves its map-side SUM partials."""
    o = catalog.load_table(spark, sf_dir, "orders")
    spend = (
        o.groupBy("o_custkey")
        .agg((F.sum(money("o_totalprice")) * 100).cast("bigint").alias("cents"))
    )
    r = spend.select(
        "cents",
        F.row_number().over(W.orderBy("cents", "o_custkey")).alias("i"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum(
            F.col("i").cast("decimal(19,0)") * F.col("cents").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("ws"),
    )
    n, s, ws = F.col("n"), F.col("s"), F.col("ws")
    return m.select(
        n.alias("n_customers"),
        F.round(s / F.lit(100.0), 2).alias("total_spend"),
        F.round(
            (F.lit(2.0) * ws - (n + F.lit(1.0)) * s) / (n * s), 6
        ).alias("gini"),
    )


_BOOT_B = 20      # bootstrap replicas
_BOOT_MOD = 3     # keep ~1/3 of rows per replica (m-out-of-n)
_BOOT_LO_RK = 2   # order statistics of the B replica means
_BOOT_HI_RK = 19


@register(
    "stats_bootstrap_ci_hash",
    oracle=f"""
    WITH reps AS (
      SELECT t.b, {money_sql("e.value")} AS v
      FROM events e CROSS JOIN range({_BOOT_B}) t(b)
      WHERE e.event_type = 'purchase'
        AND {md5_int_sql("CAST(e.event_id AS VARCHAR) || ':' || CAST(t.b AS VARCHAR)", "boot11")}
            % {_BOOT_MOD} = 0),
    means AS (
      SELECT b, CAST(SUM(v) AS DOUBLE) / COUNT(*) AS m
      FROM reps GROUP BY b),
    r AS (
      SELECT m, row_number() OVER (ORDER BY m, b) AS rk FROM means),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
             CAST(SUM({money_sql("value")}) AS DOUBLE) / COUNT(*) AS pm
      FROM events WHERE event_type = 'purchase')
    SELECT base.n_obs, ROUND(base.pm, 6) AS point_mean,
           ROUND(MAX(CASE WHEN rk = {_BOOT_LO_RK} THEN m END), 6) AS ci_lo,
           ROUND(MAX(CASE WHEN rk = {_BOOT_HI_RK} THEN m END), 6) AS ci_hi
    FROM r, base GROUP BY base.n_obs, base.pm
    """,
)
def stats_bootstrap_ci_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOOTSTRAP CONFIDENCE INTERVAL for the mean purchase value via
    HASH-DETERMINISTIC m-out-of-n resampling — the distribution-free
    error bar for any pipeline metric. Classical bootstrap draws
    random with-replacement samples; on a cluster (and against a
    cross-engine oracle) randomness is a liability, so replica b
    keeps the rows where md5(event_id, b) lands in a fixed residue
    class (~n/3 rows) — the m-out-of-n subsampling bootstrap, fully
    deterministic, reproducible at any parallelism, and embarrassingly
    parallel: the B=20 replicas materialize as ONE explode + one
    grouped aggregate, never B passes over the data.

    Exactness: per-replica sums ride DECIMAL(18,2) (order-exact), the
    per-replica mean is the identical double expression on both
    engines, and the CI endpoints are exact ORDER STATISTICS (ranks
    2 and 19 of the 20 sorted replica means — a central ~85%
    interval) with a (mean, b) total tiebreak — no inverse-CDF, no
    RNG, nothing transcendental in the hashed doubles.

    Scale: the explode multiplies the filtered fact by B before the
    map-side combine, so shuffle is B×|partials|; at 100 TB pick
    B~100 and the residue class per budget — still one pass. The
    replica-mean window runs over B rows."""
    ev = catalog.load_table(spark, sf_dir, "events")
    v = money("value")
    pur = ev.filter(F.col("event_type") == "purchase")
    keep = (
        md5_int(
            F.concat(F.col("event_id").cast("string"), F.lit(":"), F.col("b").cast("string")),
            "boot11",
        )
        % _BOOT_MOD
        == 0
    )
    reps = (
        pur.select("event_id", v.alias("v"))
        .withColumn(
            "b", F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1)))
        )
        .filter(keep)
    )
    means = reps.groupBy("b").agg(
        (F.sum("v").cast("double") / F.count(F.lit(1))).alias("m")
    )
    r = means.select(
        "m", F.row_number().over(W.orderBy("m", "b")).alias("rk")
    )
    base = pur.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
        (F.sum(v).cast("double") / F.count(F.lit(1))).alias("pm"),
    )
    return (
        r.crossJoin(F.broadcast(base))
        .groupBy("n_obs", "pm")
        .agg(
            F.max(F.when(F.col("rk") == _BOOT_LO_RK, F.col("m"))).alias("lo"),
            F.max(F.when(F.col("rk") == _BOOT_HI_RK, F.col("m"))).alias("hi"),
        )
        .select(
            "n_obs",
            F.round(F.col("pm"), 6).alias("point_mean"),
            F.round(F.col("lo"), 6).alias("ci_lo"),
            F.round(F.col("hi"), 6).alias("ci_hi"),
        )
    )


@register(
    "stats_spearman_rho",
    oracle=f"""
    WITH t AS (
      SELECT CAST(length(text) AS BIGINT) AS q,
             CAST(len({tk.ws_tokens_sql()}) AS BIGINT) AS cents
      FROM documents),
    joint AS (
      SELECT q, cents, CAST(COUNT(*) AS BIGINT) AS m
      FROM t GROUP BY q, cents),
    hx AS (
      SELECT q, CAST(SUM(m) AS BIGINT) AS nv,
             CAST(2 * (SUM(SUM(m)) OVER (ORDER BY q
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - SUM(m)) + SUM(m) + 1 AS BIGINT) AS r2
      FROM joint GROUP BY q),
    hy AS (
      SELECT cents, CAST(SUM(m) AS BIGINT) AS nv,
             CAST(2 * (SUM(SUM(m)) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  - SUM(m)) + SUM(m) + 1 AS BIGINT) AS r2
      FROM joint GROUP BY cents),
    nrow AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM joint),
    dev AS (
      SELECT j.m,
             CAST(hx.r2 - (nrow.n + 1) AS DECIMAL(38,0)) AS dx,
             CAST(hy.r2 - (nrow.n + 1) AS DECIMAL(38,0)) AS dy
      FROM joint j
      JOIN hx ON hx.q = j.q
      JOIN hy ON hy.cents = j.cents
      CROSS JOIN nrow),
    s AS (
      SELECT CAST(SUM(m * dx * dy) AS DECIMAL(38,0)) AS sxy,
             CAST(SUM(m * dx * dx) AS DECIMAL(38,0)) AS sxx,
             CAST(SUM(m * dy * dy) AS DECIMAL(38,0)) AS syy
      FROM dev)
    SELECT nrow.n AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hx) AS nx_distinct,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM hy) AS ny_distinct,
           ROUND(CAST(s.sxy AS DOUBLE)
                 / (sqrt(CAST(s.sxx AS DOUBLE))
                    * sqrt(CAST(s.syy AS DOUBLE))), 6) AS spearman_rho
    FROM s CROSS JOIN nrow
    """,
)
def stats_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN RANK CORRELATION between document character length and
    whitespace token count — the monotone-association companion to
    the Pearson matrix (feature_correlation) and the Mann-Whitney
    rank test: Pearson on tie-AVERAGED ranks, robust to the heavy
    right tail of document lengths. The pair is STRUCTURALLY
    associated (tokens are chars divided by word lengths — measured
    Pearson 0.998 on the synthetic corpus, and rho lands ~0.99 at
    every SF), so the verdict is non-vacuous — the probe-first
    discipline after r10's degenerate-assortativity lesson; the
    TPC-H numeric pairs were probed and are independent by
    construction (|corr| < 0.015).

    Exactness: ranks are never enumerated per row — both marginals
    collapse to saturating value histograms (the Mann-Whitney
    discipline), where the doubled average rank 2r(v) = 2*cum(<v) +
    n(v) + 1 is an exact integer; centering by (n+1) makes the
    deviations sum to zero EXACTLY, so rho = S_dxdy /
    sqrt(S_dxdx * S_dydy) with all three sums carried in
    DECIMAL(38,0) (|d| <= n per row bounds each sum by n^3 — inside
    38 digits to ~1e12 rows; verified hash-identical through the
    >2^53 regime at sf0.1). sqrt is IEEE-correctly-rounded, ONE
    division, one 6-dp round.

    Scale: two passes — the joint histogram groupBy (map-side
    combine, saturating in the bounded (char-length x token-count)
    domain), then rank maps BROADCAST back onto the joint cells. The
    cumulative windows run over the value domains, never fact rows —
    no global window touches the table."""
    d = catalog.load_table(spark, sf_dir, "documents")
    t = d.select(
        F.length("text").cast("bigint").alias("q"),
        F.size(tk.ws_tokens(F.col("text"))).cast("bigint").alias("cents"),
    )
    joint = t.groupBy("q", "cents").agg(
        F.count(F.lit(1)).cast("bigint").alias("m")
    )

    def rank_map(col: str):
        h = joint.groupBy(col).agg(F.sum("m").alias("nv"))
        cum = F.sum("nv").over(
            W.orderBy(col).rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        return h.select(
            col,
            (2 * (cum - F.col("nv")) + F.col("nv") + 1)
            .cast("bigint")
            .alias("r2"),
        )

    hx = rank_map("q").withColumnRenamed("r2", "r2x")
    hy = rank_map("cents").withColumnRenamed("r2", "r2y")
    nrow = joint.agg(F.sum("m").cast("bigint").alias("n"))
    dev = (
        joint.join(F.broadcast(hx), "q")
        .join(F.broadcast(hy), "cents")
        .crossJoin(F.broadcast(nrow))
        .select(
            "m",
            (F.col("r2x") - (F.col("n") + 1)).cast("decimal(38,0)").alias("dx"),
            (F.col("r2y") - (F.col("n") + 1)).cast("decimal(38,0)").alias("dy"),
        )
    )
    s = dev.agg(
        F.sum(F.col("m") * F.col("dx") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("sxy"),
        F.sum(F.col("m") * F.col("dx") * F.col("dx"))
        .cast("decimal(38,0)")
        .alias("sxx"),
        F.sum(F.col("m") * F.col("dy") * F.col("dy"))
        .cast("decimal(38,0)")
        .alias("syy"),
    )
    nx = hx.agg(F.count(F.lit(1)).cast("bigint").alias("nx_distinct"))
    ny = hy.agg(F.count(F.lit(1)).cast("bigint").alias("ny_distinct"))
    return (
        s.crossJoin(F.broadcast(nrow))
        .crossJoin(F.broadcast(nx))
        .crossJoin(F.broadcast(ny))
        .select(
            F.col("n").alias("n_rows"),
            "nx_distinct",
            "ny_distinct",
            F.round(
                F.col("sxy").cast("double")
                / (
                    F.sqrt(F.col("sxx").cast("double"))
                    * F.sqrt(F.col("syy").cast("double"))
                ),
                6,
            ).alias("spearman_rho"),
        )
    )
