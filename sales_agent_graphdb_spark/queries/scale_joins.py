"""Scale-join strategy queries: the two explicit shuffle-management
operators (salting for hot keys, bucketing for co-located fact-fact
joins) surfaced as oracle-checked queries so the driver verifies their
RESULTS, while tests/test_skew.py and tests/test_bucketing.py assert
their PLANS (spread partitions / no Exchange).

Both return exact-DECIMAL aggregates, so partition placement — the
one thing these operators change — provably cannot change the answer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import dec6, dec6_sql, md5_int, money, money_sql
from sales_agent_graphdb_spark.operators.skew import (
    salted_join,
    salted_join_hot_keys,
)
from sales_agent_graphdb_spark.queries import sources_io
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize
from sales_agent_graphdb_spark.sources.bucketing import (
    collocated_join,
    write_bucketed,
)

# event_type is the canonical hot-key column: 5 values over the whole
# events table, i.e. every key is a heavy hitter a plain shuffle join
# would send to 5 reducers total.
_TYPE_WEIGHTS = [
    ("click", "0.10"),
    ("error", "0.00"),
    ("purchase", "1.00"),
    ("signup", "0.50"),
    ("view", "0.05"),
]


@register(
    "join_salted_skew",
    oracle=f"""
    WITH weights(event_type, w) AS (VALUES
      {", ".join(f"('{t}', CAST({w} AS DECIMAL(6,2)))" for t, w in _TYPE_WEIGHTS)})
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({dec6_sql("e.value")} * w) AS DOUBLE) AS weighted_value
    FROM events e JOIN weights USING (event_type)
    GROUP BY e.event_type ORDER BY e.event_type
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join: events (every event_type a heavy hitter —
    5 keys over the whole table) joined to a tiny weights dim through
    ``salted_join`` (operators/skew.py), which spreads each hot key
    over 8 reducers by salting the fact side and replicating the dim.
    The oracle is the PLAIN join SQL: salting must be invisible in the
    result (exact-DECIMAL sum, so reducer assignment cannot skew the
    double). tests/test_skew.py asserts the partition-spread plan; at
    100 TB this is the shape for the hot-key tail AQE's size-based
    splitting misses."""
    ev = catalog.load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [(t, w) for t, w in _TYPE_WEIGHTS], "event_type string, w string"
    ).select("event_type", F.col("w").cast("decimal(6,2)").alias("w"))
    joined = salted_join(ev, dim, on="event_type", n_salts=8)
    return (
        joined.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec6("value") * F.col("w"))
            .cast("double")
            .alias("weighted_value"),
        )
        .orderBy("event_type")
    )


@register(
    "join_salted_hot_keys",
    oracle=f"""
    WITH f AS (
      SELECT CASE WHEN l_orderkey % 10 < 3 THEN 42 ELSE l_partkey END AS p_partkey,
             l_quantity
      FROM lineitem)
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({money_sql("f.l_quantity")}) AS DOUBLE) AS sum_qty
    FROM f JOIN part p USING (p_partkey)
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def join_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter-detected salted join (the production two-pass form
    of join_salted_skew): ~30% of lineitem rows are remapped onto one
    part key by a portable integer rule (``l_orderkey % 10 < 3``, so
    both engines plant the identical hot key), then joined to the part
    dim through ``salted_join_hot_keys`` (operators/skew.py) — an
    exact frequency pass detects keys above 5% of the fact, ONLY those
    get salted and dim-replicated (the hot set is bounded by 1/frac
    rows by construction, broadcastable at any scale); cold keys join
    un-replicated. The oracle is the PLAIN join SQL: detection +
    selective salting must be invisible in the exact-DECIMAL result.
    Measured balance: SCALE.md's skew A/B (same 30%-hot-key regime,
    3.32x max-partition collapse)."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 3, F.lit(42))
        .otherwise(F.col("l_partkey"))
        .alias("p_partkey"),
        "l_quantity",
    )
    dim = catalog.load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand"
    )
    joined = salted_join_hot_keys(
        fact, dim, on="p_partkey", n_salts=8, hot_frac=0.05
    )
    return (
        joined.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


@register(
    "join_bucketed_collocated",
    oracle=f"""
    SELECT o.o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({money_sql("l.l_quantity")}) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY status ORDER BY status
    """,
)
def join_bucketed_collocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free fact-fact join: lineitem and orders written as
    bucketed tables sharing the orderkey bucket spec
    (sources/bucketing.py), then joined via ``collocated_join`` — the
    pay-the-shuffle-at-ingest layout that makes every later join on
    the key Exchange-free (asserted in tests/test_bucketing.py). Each
    call rewrites both tables (``write_bucketed`` overwrites), so the
    shuffle is paid per call here, not once per dataset. The
    oracle is the plain join SQL over the original parquet, so the
    bucketed write→read cycle must preserve every row and type. At
    100 TB the bucket count scales to thousands (128-512 MB files);
    the query shape is unchanged."""
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") or "sf"
    li_t, o_t = f"bq_lineitem_{tag}", f"bq_orders_{tag}"
    scratch = f"{sources_io.SCRATCH}/bucketed/{tag}"
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = catalog.load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    write_bucketed(li, li_t, f"{scratch}/lineitem", ["l_orderkey"], n_buckets=16)
    write_bucketed(orders, o_t, f"{scratch}/orders", ["o_orderkey"], n_buckets=16)
    joined = collocated_join(
        spark,
        li_t,
        o_t,
        on=[F.col("l_orderkey") == F.col("o_orderkey")],  # type: ignore[list-item]
    )
    return (
        joined.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
        )
        .orderBy("status")
    )


_RF_BUCKETS = 4096  # prefilter signature buckets (load factor ~2% here)


@register(
    "join_runtime_prefilter",
    oracle=f"""
    SELECT p.p_size AS size,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({money_sql("l.l_extendedprice")}
                    * (1 - {money_sql("l.l_discount")})) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#13'
    GROUP BY size ORDER BY size
    """,
)
def join_runtime_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: revenue by part size for one brand's parts,
    with the fact side PRE-FILTERED by a broadcast hash-bucket
    signature of the filtered dim keys (md5(key) % 4096 distinct
    buckets — a k=1 Bloom filter: no false negatives, FP rate = the
    signature's load factor) before the real join runs as a
    SortMergeJoin. The oracle is the PLAIN join SQL: the prefilter
    must be invisible in the result.

    This is the regime where Spark's own runtime bloom filters /
    DPP live: the join side is too big to broadcast (hence the merge
    hint standing in for the 100 TB fact-fact shape), but the FILTERED
    dim's key signature is tiny — so ~98% of fact rows drop in the
    map stage and never reach the join shuffle.
    tests/test_skew.py asserts the plan shape (broadcast semi-join
    below the SortMergeJoin) and the row reduction."""
    part = catalog.load_table(spark, sf_dir, "part")
    sel = part.filter(F.col("p_brand") == "Brand#13").select(
        "p_partkey", "p_size"
    )
    buckets = sel.select(
        (md5_int("p_partkey") % _RF_BUCKETS).alias("bk")
    ).distinct()
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pre = li.join(
        F.broadcast(buckets),
        md5_int("l_partkey") % _RF_BUCKETS == F.col("bk"),
        "leftsemi",
    )
    joined = pre.join(sel.hint("merge"), pre.l_partkey == sel.p_partkey)
    return (
        joined.groupBy(F.col("p_size").alias("size"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(money("l_extendedprice") * (money(F.lit(1)) - money("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("size")
    )


@register(
    "incremental_agg_maintenance",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
    FROM orders WHERE o_orderkey <= 3000
    GROUP BY priority ORDER BY priority
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized per-priority
    aggregate (base = orders with key ≤ 2000) updated by MERGING the
    partial aggregate of a delta batch (2000 < key ≤ 3000) — sums and
    counts combine associatively, so the maintained view must equal
    the full recompute the oracle runs. THE core 100 TB pattern: a
    nightly batch touches the aggregate with O(|delta|) work instead
    of rescanning the fact table (partial aggregation in exact
    DECIMAL, so merge order cannot skew the double). The merge is a
    full-outer union-agg on the group key — the same shape a
    foreachBatch streaming upsert produces."""
    o = catalog.load_table(spark, sf_dir, "orders")

    def partial(lo: int, hi: int) -> DataFrame:
        return (
            o.filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(money("o_totalprice")).alias("total_d"),
            )
        )

    base = partial(-1, 2000)  # the standing materialized aggregate (keys start at 0)
    delta = partial(2000, 3000)  # tonight's batch, aggregated alone
    merged = (
        base.unionByName(delta)
        .groupBy("priority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_d").cast("double").alias("total"),
        )
    )
    return merged.orderBy("priority")


@register(
    "join_fuzzy_blocked",
    oracle="""
    WITH probes AS (
      SELECT p_partkey + 1000000 AS probe_id,
             substr(p_name, 1, length(p_name) - 1) AS probe_name
      FROM part WHERE p_partkey % 3 = 0 AND length(p_name) > 1),
    entities AS (
      SELECT p_name, CAST(MIN(p_partkey) AS BIGINT) AS canon_key,
             split_part(p_name, ' ', 1) AS block
      FROM part GROUP BY p_name),
    cand AS (
      SELECT pr.probe_id, pr.probe_name, b.canon_key, b.p_name
      FROM probes pr JOIN entities b
        ON split_part(pr.probe_name, ' ', 1) = b.block
       AND abs(length(pr.probe_name) - length(b.p_name)) <= 2)
    SELECT probe_id, probe_name, canon_key, p_name,
           CAST(levenshtein(probe_name, p_name) AS INTEGER) AS dist
    FROM cand WHERE levenshtein(probe_name, p_name) <= 2
    ORDER BY probe_id, canon_key
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: match dirty probe names (each a
    part name with its last character dropped — a deterministic stand-
    in for scraped/typo'd records) back to the catalog at edit
    distance <= 2, via the canonical BLOCK-then-VERIFY shape: an
    equi-join on a blocking key (first name token; in production a
    phonetic or sorted-neighborhood key) plus a length band generates
    candidates, and the exact Levenshtein verify runs ONLY on
    candidates — Σ_block |probes_b|·|entities_b| work, never the
    |probes|·|rows| cartesian an unblocked theta-join would cost.

    The match side is the DISTINCT-ENTITY catalog (name → canonical
    min-key), not raw rows — resolving against raw rows multiplies
    every candidate by the name's duplication factor (measured 33 s vs
    sub-second at sf0.1 here, and unbounded blowup at 100 TB where a
    popular name has millions of rows); dedupe-before-match is the
    load-bearing scale rule of entity resolution. Both engines
    implement identical unit-cost Levenshtein and the blocking
    predicate is part of the operator's declared semantics (the oracle
    mirrors it), so the result is bit-exact."""
    p = catalog.load_table(spark, sf_dir, "part")
    probes = (
        p.filter((F.col("p_partkey") % 3 == 0) & (F.length("p_name") > 1))
        .select(
            (F.col("p_partkey") + 1_000_000).alias("probe_id"),
            F.expr("substring(p_name, 1, length(p_name) - 1)").alias("probe_name"),
        )
    )
    entities = p.groupBy("p_name").agg(F.min("p_partkey").alias("canon_key")).select(
        "p_name", "canon_key", F.substring_index("p_name", " ", 1).alias("block")
    )
    cand = probes.join(
        entities,
        (F.substring_index("probe_name", " ", 1) == F.col("block"))
        & (
            F.abs(F.length("probe_name") - F.length("p_name")) <= 2
        ),
    )
    dist = F.levenshtein("probe_name", "p_name")
    return (
        cand.filter(dist <= 2)
        .select(
            "probe_id",
            "probe_name",
            "canon_key",
            "p_name",
            dist.cast("int").alias("dist"),
        )
        .orderBy("probe_id", "canon_key")
    )


@register(
    "join_runtime_bloom_native",
    oracle=f"""
    SELECT CAST(p.p_size AS INTEGER) AS size,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({money_sql("l.l_extendedprice")}
                    * ({money_sql("1")}
                       - {money_sql("l.l_discount")})) AS DOUBLE)
             AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#13'
    GROUP BY size ORDER BY size
    """,
)
def join_runtime_bloom_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE runtime bloom-filter injection
    (InjectRuntimeFilter) on the same brand-filtered fact/dim join as
    join_runtime_prefilter — the built-in counterpart of that query's
    hand-rolled md5-bucket semi-join: the optimizer plants a
    BloomFilterAggregate over the FILTERED dim's join keys and rewrites
    the fact side to `might_contain(bloom-subquery, xxhash64(key))` IN
    THE SCAN FILTER, so ~98% of fact rows drop at the map stage before the
    SortMergeJoin shuffle — the no-false-negative guarantee makes the
    rewrite invisible in the result, certified by the PLAIN-join
    oracle (same one as the manual twin).

    Injection is threshold-gated for exactly the regime this models:
    the application side must be scan-heavy (default threshold 10 GB)
    and the creation side small — at test SFs the fact is far below
    that, so the thresholds are lowered and broadcast disabled FOR
    THIS PLAN ONLY: the frame is materialized eagerly
    (``materialize``) while the confs are active and every conf is
    restored in `finally`, so nothing leaks into the session's other
    queries. tests/test_plans.py pins `might_contain` + the
    bloom_filter_agg subquery in the plan and the SMJ above it. At
    100 TB the
    defaults fire on their own; the manual md5-bucket twin stays
    first-class for engines/versions where the rule declines
    (its docstring documents that contract)."""
    li = catalog.load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    part = catalog.load_table(spark, sf_dir, "part")
    sel = part.filter(F.col("p_brand") == "Brand#13").select(
        "p_partkey", "p_size"
    )
    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = li.join(sel, li.l_partkey == sel.p_partkey)
        # Eager: plan and execution must run under the confs.
        out = materialize(
            joined.groupBy(F.col("p_size").cast("int").alias("size"))
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    money("l_extendedprice")
                    * (money(F.lit(1)) - money("l_discount"))
                )
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("size"),
            eager=True,
        )
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    return out
