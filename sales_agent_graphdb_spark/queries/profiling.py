"""Corpus/table profiling and sketch operators: the data-quality,
sampling, keyword-extraction and frequency-sketch primitives a
training-data pipeline runs before and after every ingest.

Reference parity: the reference has no profiling surface (its quality
checks live in ad-hoc service code, e.g. scraper validation in
scraper_service.py); these are the brief's "operations a large-scale
training-data pipeline would need", same footing as curation.py.

All metrics are exact integer/deterministic-double arithmetic so each
query hash-checks against its DuckDB oracle. Hash-derived bucketing
uses the engine-portable md5 prefix (functions/scalar.md5_int).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import md5_int, md5_int_sql, money, money_sql
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize


# ---------------------------------------------------------------------------
# Data-quality report: one-pass column profiling + rule violations
# ---------------------------------------------------------------------------

# (metric, DuckDB aggregate) — one wide agg row, unpivoted to long form.
# The Spark side mirrors each aggregate 1:1 below.
_DQ_METRICS_SQL = [
    ("row_count", "COUNT(*)"),
    ("null:o_custkey", "COUNT(*) FILTER (o_custkey IS NULL)"),
    ("null:o_orderdate", "COUNT(*) FILTER (o_orderdate IS NULL)"),
    ("null:o_orderstatus", "COUNT(*) FILTER (o_orderstatus IS NULL)"),
    ("null:o_totalprice", "COUNT(*) FILTER (o_totalprice IS NULL)"),
    ("distinct:o_custkey", "COUNT(DISTINCT o_custkey)"),
    ("distinct:o_orderpriority", "COUNT(DISTINCT o_orderpriority)"),
    ("distinct:o_orderstatus", "COUNT(DISTINCT o_orderstatus)"),
    ("rule:nonpositive_totalprice", "COUNT(*) FILTER (o_totalprice <= 0)"),
    (
        "rule:unknown_status",
        "COUNT(*) FILTER (o_orderstatus NOT IN ('O', 'P', 'F'))",
    ),
]


@register(
    "data_quality_report",
    oracle="WITH w AS (SELECT "
    + ", ".join(
        f'CAST({agg} AS BIGINT) AS "{name}"' for name, agg in _DQ_METRICS_SQL
    )
    + " FROM orders) "
    + " UNION ALL ".join(
        f"SELECT '{name}' AS metric, \"{name}\" AS value FROM w"
        for name, _ in _DQ_METRICS_SQL
    )
    + " ORDER BY metric",
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations-style data-quality profile of the orders table in
    ONE scan: per-column null counts, exact distinct counts for the
    low-cardinality columns, and constraint-violation counts (the
    checks a pipeline gates an ingest batch on).

    Spark-first shape: a single wide aggregate — every metric is
    map-side combinable (the multi-column COUNT DISTINCT expands the
    input k ways before the partial agg, the standard Catalyst Expand
    plan; distinct profiling is restricted to the three bounded-
    cardinality columns so the expansion factor is a constant 4, and
    unbounded-cardinality columns would use approx_count_distinct
    instead) — then an unpivot of the one-row result. At 100 TB this
    is one pass over the fact table producing a handful of rows."""
    o = catalog.load_table(spark, sf_dir, "orders")
    nn = lambda c: F.sum(F.col(c).isNull().cast("bigint"))  # noqa: E731
    aggs = {
        "row_count": F.count(F.lit(1)),
        "null:o_custkey": nn("o_custkey"),
        "null:o_orderdate": nn("o_orderdate"),
        "null:o_orderstatus": nn("o_orderstatus"),
        "null:o_totalprice": nn("o_totalprice"),
        "distinct:o_custkey": F.countDistinct("o_custkey"),
        "distinct:o_orderpriority": F.countDistinct("o_orderpriority"),
        "distinct:o_orderstatus": F.countDistinct("o_orderstatus"),
        "rule:nonpositive_totalprice": F.sum(
            (F.col("o_totalprice") <= 0).cast("bigint")
        ),
        "rule:unknown_status": F.sum(
            (~F.col("o_orderstatus").isin("O", "P", "F")).cast("bigint"),
        ),
    }
    assert [n for n, _ in _DQ_METRICS_SQL] == list(aggs)  # oracle drift guard
    wide = o.agg(
        *[F.coalesce(a, F.lit(0)).cast("bigint").alias(n) for n, a in aggs.items()]
    )
    return wide.unpivot([], list(aggs), "metric", "value").orderBy("metric")


# ---------------------------------------------------------------------------
# Per-group fixed-k deterministic sample
# ---------------------------------------------------------------------------

_GROUP_K = 5


@register(
    "sample_group_topk",
    oracle=f"""
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents)
    WHERE rk <= {_GROUP_K} ORDER BY source, rk
    """,
)
def sample_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size per-group sample: at most k=5 documents per
    source, chosen by md5(doc_id) rank — the "grab a handful of
    examples from every domain" inspection query. Unlike reservoir
    sampling the pick is deterministic across runs/engines/
    partitionings, and stable under corpus growth (a new doc displaces
    at most one pick per group).

    Spark-first shape: ROW_NUMBER over (source) with the rank filter —
    Catalyst rewrites it to WindowGroupLimit, so each input partition
    keeps at most k rows per group BEFORE the shuffle (probed in
    tests/test_profiling.py). At 100 TB the shuffle carries
    O(groups x k x partitions) rows, not the corpus."""
    d = catalog.load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "source", "doc_id", F.row_number().over(w).cast("bigint").alias("rk")
        )
        .filter(F.col("rk") <= _GROUP_K)
        .orderBy("source", "rk")
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

_TFIDF_K = 3


@register(
    "text_tfidf_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({tk.alnum_tokens_sql()}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE term <> '' GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf AS DOUBLE)
               * (CAST(n_docs + 1 AS DOUBLE) / CAST(dfreq.df + 1 AS DOUBLE))
               AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT doc_id, term, score, rk FROM (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term) AS rk
      FROM scored)
    WHERE rk <= {_TFIDF_K} ORDER BY doc_id, rk
    """,
)
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by TF-IDF.
    The idf factor is the RATIONAL form (N+1)/(df+1) — same ordering
    intent as log-idf but a single exact double division, so scores are
    bit-identical across engines (the text_bm25_search rational-idf
    technique; a log() would differ in ulps between libm builds).

    Spark-first shape: one tokenize+explode pass -> (doc,term) counts
    (map-side combinable) -> join the vocabulary-sized document-
    frequency frame on term -> per-doc top-k via ROW_NUMBER + rank
    filter (WindowGroupLimit: <= k rows per doc survive per partition
    pre-shuffle). The df frame is vocabulary-sized, broadcastable at
    any corpus scale with a bounded vocabulary."""
    d = catalog.load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tk.alnum_tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Read by the df aggregation and the scored join.
    tf = materialize(tf, eager=False)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))  # one-row frame
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * (
                    (F.col("n_docs") + 1).cast("double")
                    / (F.col("df") + 1).cast("double")
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.select(
            "doc_id", "term", "score", F.row_number().over(w).cast("bigint").alias("rk")
        )
        .filter(F.col("rk") <= _TFIDF_K)
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# Portable count-min sketch (heavy hitters with bounded-memory state)
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 512
_CMS_TOPK = 10


def _cms_bucket(i: int, key: Column) -> Column:
    """Row i's CMS bucket for key: disjoint 9-bit slices of ONE 60-bit
    md5 prefix — h = bigint(first 15 hex chars), bucket_i =
    (h >> 9i) % width. One digest + one hex→int conversion feeds all
    depth rows (disjoint bit ranges of a cryptographic hash are
    independent for CMS purposes — the same one-hash-many-uses rule as
    the minhash XOR-rotate family); the naive md5(f'{i}:{key}') form
    costs depth full digests per row. The remaining per-row cost is
    the digest itself (string-cast + md5), which no portable hash
    family avoids."""
    return F.shiftright(md5_int(key), 9 * i) % _CMS_WIDTH


def _cms_bucket_sql(i_expr: str, key_expr: str) -> str:
    """SQL twin of _cms_bucket; ``i_expr`` may be a column reference
    (the oracle's VALUES-joined depth index) or a literal."""
    return f"({md5_int_sql(key_expr)} >> (9 * {i_expr})) % {_CMS_WIDTH}"


@register(
    "agg_countmin_portable",
    oracle=f"""
    WITH keys AS (SELECT l_partkey AS k FROM lineitem),
    hashed AS (
      SELECT i, {_cms_bucket_sql('i', 'k')} AS b
      FROM keys CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)),
    cells AS (
      SELECT i, b, CAST(COUNT(*) AS BIGINT) AS c FROM hashed GROUP BY i, b),
    top AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS true_cnt FROM keys
      GROUP BY k ORDER BY true_cnt DESC, k LIMIT {_CMS_TOPK}),
    probes AS (
      SELECT k, true_cnt, i,
             {_cms_bucket_sql('i', 'k')} AS b
      FROM top CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)),
    est AS (
      SELECT p.k, p.true_cnt, MIN(c.c) AS cms_est
      FROM probes p JOIN cells c USING (i, b) GROUP BY p.k, p.true_cnt)
    SELECT k AS part_key, true_cnt, cms_est, cms_est - true_cnt AS overcount
    FROM est ORDER BY true_cnt DESC, part_key
    """,
)
def agg_countmin_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over lineitem part keys, built IN-PLAN as a
    DataFrame aggregate: depth=4 md5 hash rows x
    width=512 counters, then the sketch estimate
    (min over rows of the key's counter) probed for the 10
    highest-true-count keys next to their exact counts. Because the
    hash family is md5 (engine-portable, unlike Spark's internal
    xxhash-based count_min_sketch() binary blob), the DuckDB oracle
    rebuilds the identical sketch and the ESTIMATES hash-check
    bit-for-bit — CMS guarantee est >= true is pinned for every key in
    tests/test_profiling.py.

    Spark-first shape: explode each fact row into its 4
    (row, bucket) cells and groupBy-count — partial aggregation
    collapses each map task's output to <= depth x width rows, so the
    shuffle carries O(sketch size) per partition regardless of input
    size: exactly the bounded-memory property that makes CMS the
    100 TB heavy-hitter primitive when exact per-key counts blow the
    agg-state budget."""
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("k")
    )
    # Materialize the single 60-bit digest prefix per row, then
    # posexplode the 4 shift-derived buckets — the digest is evaluated
    # once and the per-cell work is pure integer arithmetic (the
    # array<struct> + per-slot hash form measured ~3x slower).
    hashed = li.select(md5_int("k").alias("h")).select(
        F.posexplode(
            F.array(
                *[
                    (F.shiftright(F.col("h"), 9 * i) % _CMS_WIDTH)
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("i", "b")
    )
    cells = hashed.groupBy("i", "b").agg(F.count(F.lit(1)).alias("c"))
    top = (
        li.groupBy("k")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), "k")
        .limit(_CMS_TOPK)
    )
    probes = top.select(
        "k",
        "true_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), _cms_bucket(i, F.col("k")).alias("b")
                    )
                    for i in range(_CMS_DEPTH)
                ]
            )
        ).alias("x"),
    ).select("k", "true_cnt", "x.i", "x.b")
    est = (
        F.broadcast(probes)  # topk x depth rows
        .join(cells, ["i", "b"])
        .groupBy("k", "true_cnt")
        .agg(F.min("c").alias("cms_est"))
    )
    return est.select(
        F.col("k").alias("part_key"),
        "true_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
    ).orderBy(F.col("true_cnt").desc(), "part_key")


# ---------------------------------------------------------------------------
# Exact per-label embedding centroids (vector aggregation)
# ---------------------------------------------------------------------------

_EMB_DIM = 64  # oracle subscripts are generated for exactly this dim
_CENTROID_SCALE = 100_000_000  # 1e8: float32 -> 8-dp fixed point


@register(
    "vec_centroid_per_label",
    oracle=f"""
    WITH flat AS (
      SELECT label, u.i - 1 AS dim,
             CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * {_CENTROID_SCALE}.0)
                  AS BIGINT) AS q
      FROM embeddings
      CROSS JOIN (SELECT unnest(generate_series(1, {_EMB_DIM})) AS i) u),
    agg AS (
      SELECT label, dim, SUM(q) AS sq, CAST(COUNT(*) AS BIGINT) AS n_vecs
      FROM flat GROUP BY label, dim)
    SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
           CAST(sq AS DOUBLE) / CAST(n_vecs AS DOUBLE) / {_CENTROID_SCALE}.0
             AS centroid,
           n_vecs
    FROM agg ORDER BY label, dim
    """,
)
def vec_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (label, dim) -> mean component —
    the vector-aggregation building block of k-means/IVF (here as a
    first-class oracled query: class prototypes / cluster summaries).

    Floating-point sums are partition-order dependent, so each float32
    component is quantized to 8-dp fixed point (floor(v * 1e8) — floor,
    not a decimal cast, because engines disagree on decimal rounding
    modes at the half ulp) and summed as exact BIGINTs: the centroid is
    then order-independent and hash-checks against DuckDB. float32 max
    |v| ~ O(1) here, so q fits bigint with 10^10 headroom.

    Spark-first shape: posexplode -> groupBy(label, dim) — partial
    aggregation collapses map output to labels x dim cells, so the
    shuffle is sketch-sized, never corpus-sized. The explode factor
    (x64) stays JVM-side inside whole-stage codegen."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    if dim != _EMB_DIM:
        raise ValueError(
            f"vec_centroid_per_label: oracle generated for dim={_EMB_DIM}, "
            f"data has dim={dim}"
        )
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    ).select(
        "label",
        "dim",
        F.floor(F.col("v").cast("double") * _CENTROID_SCALE).cast("bigint").alias("q"),
    )
    agg = flat.groupBy("label", "dim").agg(
        F.sum("q").alias("sq"), F.count(F.lit(1)).alias("n_vecs")
    )
    return agg.select(
        F.col("label").cast("bigint").alias("label"),
        F.col("dim").cast("bigint").alias("dim"),
        (
            F.col("sq").cast("double") / F.col("n_vecs").cast("double") / _CENTROID_SCALE
        ).alias("centroid"),
        "n_vecs",
    ).orderBy("label", "dim")


# ---------------------------------------------------------------------------
# HLL sketch rollup: mergeable distinct-count partials
# ---------------------------------------------------------------------------

# Default lgConfigK=12 gives ~1.6% relative standard error. The per-day
# verdict is evaluated once PER DAY-ROW, so as SF grows the day count
# grows and a 3σ bound would deterministically fail on some day for
# reasons unrelated to any bug (round-3 advisor finding); ~6σ makes the
# family-wise failure probability negligible at any realistic day count.
# The merged ALL row keeps the tight 3σ bound — a single trial, and the
# row that actually certifies sketch MERGEABILITY.
_HLL_TOL_DAY = 0.10  # ~6σ, applied to every per-day row
_HLL_TOL_ALL = 0.05  # ~3σ, applied to the single union-of-sketches row


@register(
    "agg_hll_rollup",
    oracle="""
    WITH daily AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1),
    total AS (
      SELECT 'ALL' AS day,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events)
    SELECT day, n_exact, TRUE AS est_ok FROM daily
    UNION ALL
    SELECT day, n_exact, TRUE AS est_ok FROM total
    ORDER BY day
    """,
)
def agg_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup via Datasketches HLL
    (``hll_sketch_agg`` / ``hll_union_agg``) — the pattern that makes
    COUNT DISTINCT affordable in continuous aggregates at 100 TB:
    per-day sketch PARTIALS are built once from raw (map-side
    combinable, fixed 2^12-bucket state per group), and every coarser
    grain (here the all-time total) is a UNION OF SKETCHES — the raw
    data is never rescanned, unlike exact distinct which cannot reuse
    finer grains. The daily exact distinct is computed alongside for
    the verdict only.

    Oracle-checked as a BOUNDS VERDICT (the pct_approx_value
    technique): sketch estimates are engine-specific, so each row
    emits the EXACT count plus a boolean |est − exact| ≤ tol·exact,
    and the all-TRUE oracle hash-checks it at any SF. Per-day rows use
    a ~6σ tolerance (many trials — one per day — so the bound must
    survive the family-wise max), while the single ALL row keeps ~3σ:
    it certifies MERGEABILITY — the union-of-daily-sketches estimate
    must track the global exact count."""
    e = catalog.load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("n_exact"),
    )

    def verdict(est, exact, tol):
        return (
            F.abs(est.cast("double") - exact.cast("double"))
            <= F.lit(tol) * exact.cast("double")
        ).alias("est_ok")

    per_day = daily.select(
        "day",
        "n_exact",
        verdict(F.hll_sketch_estimate("sk"), F.col("n_exact"), _HLL_TOL_DAY),
    )
    total_exact = e.agg(F.countDistinct("user_id").alias("n_exact_all"))
    merged = daily.agg(F.hll_union_agg("sk").alias("sk_all")).join(
        F.broadcast(total_exact)
    )
    total = merged.select(
        F.lit("ALL").alias("day"),
        F.col("n_exact_all").alias("n_exact"),
        verdict(F.hll_sketch_estimate("sk_all"), F.col("n_exact_all"), _HLL_TOL_ALL),
    )
    return per_day.unionByName(total).orderBy("day")


# ---------------------------------------------------------------------------
# Distribution drift between two corpus windows (chi-square)
# ---------------------------------------------------------------------------

# 95% critical value of chi-square with 1 df: the conventional per-cell
# drift alarm threshold. A domain constant, not a tuning knob.
_CHI2_CRIT = 3.841


@register(
    "dq_drift_chi_square",
    oracle="""
    WITH b AS (SELECT CAST(MIN(epoch_us(ts)) AS BIGINT) AS tmin,
                      CAST(MAX(epoch_us(ts)) AS BIGINT) AS tmax FROM events),
    t0 AS (SELECT event_type, event_id,
                  CASE WHEN 2 * epoch_us(ts) > tmin + tmax
                       THEN 1 ELSE 0 END AS is_cur
           FROM events, b),
    t AS (SELECT CASE WHEN is_cur = 1 AND event_id % 20 = 0
                      THEN 'click' ELSE event_type END AS event_type,
                 is_cur
          FROM t0),
    c AS (SELECT event_type,
                 CAST(SUM(1 - is_cur) AS BIGINT) AS ref_n,
                 CAST(SUM(is_cur) AS BIGINT) AS cur_n
          FROM t GROUP BY 1),
    tot AS (SELECT CAST(SUM(ref_n) AS BIGINT) AS tot_ref,
                   CAST(SUM(cur_n) AS BIGINT) AS tot_cur,
                   CAST(SUM(ref_n + cur_n) AS BIGINT) AS n_all FROM c)
    SELECT event_type, ref_n, cur_n,
           CAST(ref_n AS DOUBLE) / CAST(tot_ref AS DOUBLE) AS ref_share,
           CAST(cur_n AS DOUBLE) / CAST(tot_cur AS DOUBLE) AS cur_share,
           (CAST(ref_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_ref AS DOUBLE) / CAST(n_all AS DOUBLE))
           * (CAST(ref_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_ref AS DOUBLE) / CAST(n_all AS DOUBLE))
           / (CAST((ref_n + cur_n) * tot_ref AS DOUBLE) / CAST(n_all AS DOUBLE))
           + (CAST(cur_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_cur AS DOUBLE) / CAST(n_all AS DOUBLE))
           * (CAST(cur_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_cur AS DOUBLE) / CAST(n_all AS DOUBLE))
           / (CAST((ref_n + cur_n) * tot_cur AS DOUBLE) / CAST(n_all AS DOUBLE))
           AS chi2,
           ((CAST(ref_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_ref AS DOUBLE) / CAST(n_all AS DOUBLE))
           * (CAST(ref_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_ref AS DOUBLE) / CAST(n_all AS DOUBLE))
           / (CAST((ref_n + cur_n) * tot_ref AS DOUBLE) / CAST(n_all AS DOUBLE))
           + (CAST(cur_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_cur AS DOUBLE) / CAST(n_all AS DOUBLE))
           * (CAST(cur_n AS DOUBLE) - CAST((ref_n + cur_n) * tot_cur AS DOUBLE) / CAST(n_all AS DOUBLE))
           / (CAST((ref_n + cur_n) * tot_cur AS DOUBLE) / CAST(n_all AS DOUBLE))) > 3.841
           AS drifted
    FROM c, tot ORDER BY event_type
    """,
)
def dq_drift_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between two corpus windows — the snapshot-
    over-snapshot QC gate a training-data pipeline runs before
    admitting a new crawl: split events at the exact time midpoint
    (``2*t > tmin+tmax``: pure integer comparison, no division
    rounding), count each event_type on both sides, and compute the
    per-type chi-square contribution against the pooled expectation.
    ``drifted`` flags cells past the 95% critical value (3.841).

    Drift is deterministically PLANTED (the text_pii_scrub convention
    — the raw synthetic stream is stationary, so every flag would be
    vacuously false): 5% of current-window events (``event_id % 20 ==
    0``, a portable rule the oracle applies identically) are remapped
    to 'click', which fires the flag on exactly that type (chi2 ≈ 11)
    while the diluted types stay under threshold — the check is
    non-vacuous in BOTH directions.

    Cross-engine determinism: counts are exact integers; every double
    is produced by the same +,-,*,/ sequence on both engines (IEEE ops
    are exactly rounded, so identical operand order => identical bits
    — the feature_correlation power-sum rule; no log/sqrt). Products
    like (ref_n+cur_n)*tot_ref stay well under 2^53 at any realistic
    type cardinality.

    Scale: one parquet-stats-cheap min/max agg broadcast as a one-row
    frame, then ONE map-side-combinable groupBy(event_type) — the only
    data shuffle carries |types| partial rows. The totals frame is
    |types| rows re-aggregated to one row and broadcast back. At
    100 TB this is two scans of one column each (ts, event_type),
    shuffling kilobytes."""
    e = catalog.load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.min(F.unix_micros("ts")).cast("bigint").alias("tmin"),
        F.max(F.unix_micros("ts")).cast("bigint").alias("tmax"),
    )
    tagged = (
        e.crossJoin(F.broadcast(bounds))
        .withColumn(
            "is_cur",
            F.when(
                F.unix_micros("ts") * 2 > F.col("tmin") + F.col("tmax"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "event_type",
            F.when(
                (F.col("is_cur") == 1) & (F.col("event_id") % 20 == 0),
                F.lit("click"),
            ).otherwise(F.col("event_type")),
        )
    )
    c = tagged.groupBy("event_type").agg(
        F.sum(1 - F.col("is_cur")).cast("bigint").alias("ref_n"),
        F.sum("is_cur").cast("bigint").alias("cur_n"),
    )
    tot = c.agg(
        F.sum("ref_n").cast("bigint").alias("tot_ref"),
        F.sum("cur_n").cast("bigint").alias("tot_cur"),
        F.sum(F.col("ref_n") + F.col("cur_n")).cast("bigint").alias("n_all"),
    )
    j = c.crossJoin(F.broadcast(tot))
    n_all_d = F.col("n_all").cast("double")
    e_ref = ((F.col("ref_n") + F.col("cur_n")) * F.col("tot_ref")).cast(
        "double"
    ) / n_all_d
    e_cur = ((F.col("ref_n") + F.col("cur_n")) * F.col("tot_cur")).cast(
        "double"
    ) / n_all_d
    d_ref = F.col("ref_n").cast("double") - e_ref
    d_cur = F.col("cur_n").cast("double") - e_cur
    chi2 = d_ref * d_ref / e_ref + d_cur * d_cur / e_cur
    return j.select(
        "event_type",
        "ref_n",
        "cur_n",
        (F.col("ref_n").cast("double") / F.col("tot_ref").cast("double")).alias(
            "ref_share"
        ),
        (F.col("cur_n").cast("double") / F.col("tot_cur").cast("double")).alias(
            "cur_share"
        ),
        chi2.alias("chi2"),
        (chi2 > F.lit(_CHI2_CRIT)).alias("drifted"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Equi-depth histogram (optimizer-statistics construction)
# ---------------------------------------------------------------------------

_EQUIDEPTH_BUCKETS = 20


@register(
    "agg_equidepth_histogram",
    oracle=f"""
    WITH t AS (SELECT l_extendedprice AS v,
                      l_orderkey * 10 + l_linenumber AS uid FROM lineitem),
    b AS (SELECT v, ntile({_EQUIDEPTH_BUCKETS}) OVER (ORDER BY v, uid) AS bucket
          FROM t)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(v) AS DOUBLE) AS lo, CAST(MAX(v) AS DOUBLE) AS hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of lineitem prices — the
    statistic a cost-based optimizer stores per column (Spark's own
    ANALYZE TABLE ... FOR COLUMNS builds exactly this shape): every
    bucket holds the same row count, bucket bounds carry the value
    skew. Built on the EXACT distributed ntile
    (operators/prefix_sum.distributed_ntile — range-partitioned prefix
    count + integer-div size rule, no single-partition window), so the
    histogram is exact, not sampled, yet scales: two balanced
    exchanges over the fact regardless of row count. Tie-break uid is
    l_orderkey*10+l_linenumber (linenumber < 10 — a unique portable
    integer). Contrast: the equal-WIDTH histogram
    (agg_value_histogram) bins by value range in one pass but starves
    buckets under skew; equi-depth is what selectivity estimation
    needs."""
    from sales_agent_graphdb_spark.operators.prefix_sum import distributed_ntile

    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("v"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("uid"),
    )
    return (
        distributed_ntile(li, ["v", "uid"], _EQUIDEPTH_BUCKETS, out_col="bucket")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").cast("double").alias("lo"),
            F.max("v").cast("double").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "dq_observe_one_pass",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({money_sql("l_extendedprice")}) AS DOUBLE) AS total_price,
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_qty,
           CAST(MIN(l_shipdate) AS VARCHAR) AS min_ship,
           CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS n_flag_groups
    FROM lineitem
    """,
)
def dq_observe_one_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality metrics via Spark's Observation API — QC computed
    IN THE SAME PASS as the business aggregate, not by a second scan:
    `df.observe(...)` attaches accumulator-backed aggregates
    (row count, exact-DECIMAL total, null count, min timestamp) to the
    frame, the business groupBy consumes the frame and triggers the
    one job, and the observed values are read from the completed
    action. At 100 TB this is the difference between QC that is free
    (piggybacked accumulators on a scan you already paid for) and QC
    that doubles your scan bill — the production pattern for ingest
    validation ledgers. The returned row carries the observed metrics
    PLUS the business result's group count, so the oracle (one SQL
    pass over the same table) certifies both that the observation
    values are exact and that the observation actually rode the
    business query's execution."""
    from pyspark.sql import Observation

    li = catalog.load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(money("l_extendedprice")).cast("double").alias("total_price"),
        F.sum(F.col("l_quantity").isNull().cast("long")).alias("null_qty"),
        F.min("l_shipdate").cast("string").alias("min_ship"),
    )
    business = observed.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n")
    )
    # COUNT(DISTINCT ...) semantics: a NULL l_returnflag forms a group
    # in groupBy but is NOT counted by the oracle's COUNT(DISTINCT) —
    # exclude it from the group count so both sides agree by
    # construction even if the column ever carries NULLs (ADVICE r07).
    groups = business.collect()  # the action that fills obs
    n_groups = sum(1 for r in groups if r["l_returnflag"] is not None)
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["total_price"], m["null_qty"], m["min_ship"], n_groups)],
        "n_rows long, total_price double, null_qty long, min_ship string, n_flag_groups long",
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_child_rows,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer),
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    ORDER BY fk
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY audit across the whole star schema — the
    cross-TABLE data-quality class data_quality_report's single-table
    profile doesn't reach: every FK edge (lineitem→orders/part/
    supplier, orders→customer, customer→nation) is checked by a
    LEFT ANTI join and the orphan count rides next to the child row
    count, one row per edge. A lakehouse runs exactly this after
    every ingest batch (no engine-enforced FKs exist at this scale).

    Scale: each anti join broadcasts its PARENT key set when small
    (nation/customer/part/supplier dims) and shuffles only for the
    orders edge; counts are map-side-combinable. The five checks are
    independent jobs — at 100 TB they run concurrently against one
    cached child scan."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    o = catalog.load_table(spark, sf_dir, "orders")
    p = catalog.load_table(spark, sf_dir, "part")
    s = catalog.load_table(spark, sf_dir, "supplier")
    c = catalog.load_table(spark, sf_dir, "customer")
    n = catalog.load_table(spark, sf_dir, "nation")

    def edge(name, child, child_key, parent, parent_key):
        orphans = child.join(
            parent, child[child_key] == parent[parent_key], "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).alias("n_child_rows"))
            .crossJoin(
                F.broadcast(orphans.agg(F.count(F.lit(1)).alias("n_orphans")))
            )
            .select(
                F.lit(name).alias("fk"), "n_child_rows", "n_orphans"
            )
        )

    out = edge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey")
    for e in (
        edge("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey"),
        edge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey"),
        edge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey"),
    ):
        out = out.unionByName(e)
    return out.orderBy("fk")


# Benford first-digit expectations in exact ppm, computed ONCE here
# (round(1e6*log10(1+1/d))) and inlined as the SAME integer literals
# into both engines' statements — the log10 never executes inside
# either engine, keeping the no-transcendentals-in-hashed-values
# discipline. They sum to exactly 1_000_000.
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}
_BENFORD_VALUES_SQL = ", ".join(
    f"({d}, {ppm})" for d, ppm in _BENFORD_PPM.items()
)


@register(
    "dq_benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR({money_sql("o_totalprice")})
                                   AS BIGINT) AS VARCHAR), 1, 1) AS INT)
               AS digit
      FROM orders WHERE o_totalprice > 0),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs),
    exp AS (SELECT * FROM (VALUES {_BENFORD_VALUES_SQL}) AS t(digit, exp_ppm))
    SELECT e.digit, COALESCE(o.n, 0) AS n,
           CAST(COALESCE(o.n, 0) * 1000000 // tot.total AS BIGINT) AS obs_ppm,
           CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
           CAST(ABS(COALESCE(o.n, 0) * 1000000 // tot.total - e.exp_ppm)
                AS BIGINT) AS dev_ppm
    FROM exp e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN tot
    ORDER BY e.digit
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD'S-LAW first-digit audit over order amounts — the
    fraud/synthetic-data screen every financial data-quality suite
    ships: naturally-occurring multiplicative amounts follow
    P(d) = log10(1 + 1/d), and a generator (or manipulation) that
    draws amounts uniformly shows up as a flat digit profile with
    huge deviations on digit 1. The readout is per-digit observed vs
    expected frequency in integer ppm (truncating division — Spark
    `div` == DuckDB `//`, pinned cross-engine in r10) plus the
    absolute deviation; the expectation constants are precomputed
    Python literals inlined into both statements, so no transcendental
    ever executes in either engine. This synthetic TPC-H-ish corpus is
    drawn uniform-ish, so LARGE deviations are the correct verdict —
    the audit certifies the detector fires, the complement of the
    null-baseline discipline in stats_diff_in_diff.

    Scale: first digit is one string op on the scan, then a 9-group
    map-side-combinable count — sketch-free, one pass, 9 rows out."""
    o = catalog.load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor(money("o_totalprice"))
        .cast("bigint")
        .cast("string"),
        1,
        1,
    ).cast("int")
    obs = (
        o.filter(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    exp = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "digit int, exp_ppm bigint"
    )
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    obs_ppm = F.expr("coalesce(n, 0) * 1000000 div total")
    return (
        exp.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            obs_ppm.cast("bigint").alias("obs_ppm"),
            F.col("exp_ppm").cast("bigint").alias("exp_ppm"),
            F.abs(obs_ppm - F.col("exp_ppm")).cast("bigint").alias("dev_ppm"),
        )
        .orderBy("digit")
    )
