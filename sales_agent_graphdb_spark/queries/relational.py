"""Relational core: scans, filters, sorts, limits, set ops
(SURVEY.md §2.1, §2.2, §2.6, §2.7).

Every query here is a pure DataFrame plan — filters and projections
reach the parquet scan (PushedFilters / ReadSchema), sorts+limits
compile to TakeOrderedAndProject, and the whole thing stays inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import money, money_sql, rate_sql
from sales_agent_graphdb_spark.operators import graph
from sales_agent_graphdb_spark.registry import register


# ---------------------------------------------------------------------------
# Flagship: scan -> join -> agg -> sort (SURVEY.md §7 minimum slice; the
# reference's products-for-order-form join neo4j_products.py:36-40
# re-expressed as part ⋈ lineitem revenue-by-brand).
# ---------------------------------------------------------------------------


@register(
    "flagship_revenue_by_brand",
    oracle=f"""
    SELECT p.p_brand AS brand,
           l.l_returnflag AS returnflag,
           CAST(SUM({money_sql("l.l_extendedprice")}
                    * (1 - {money_sql("l.l_discount")})) AS DOUBLE) AS revenue,
           CAST(SUM({money_sql("l.l_quantity")}) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY brand, returnflag
    ORDER BY brand, returnflag
    """,
)
def flagship_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per (brand, returnflag): broadcast the part dim into the
    lineitem fact scan, partial-aggregate map-side, two-key sort.
    Money math in exact DECIMAL so the result is independent of
    partitioning / summation order (matches the DuckDB oracle exactly)."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    part = catalog.load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.sum(money("l_extendedprice") * (money(F.lit(1)) - money("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("brand", "returnflag")
    )


# ---------------------------------------------------------------------------
# Scans (S5, S6)
# ---------------------------------------------------------------------------

# S6's broad product scan; nl2plan_broad_scan (plans_nl.py) routes a
# noun-less question to the same scan and registers this same text.
PRODUCT_SCAN_ORACLE = """
    SELECT CAST(p_partkey AS VARCHAR) AS sku, p_name AS name, p_retailprice AS price
    FROM part ORDER BY p_partkey LIMIT 10
    """


@register("s6_graph_scan_limit", oracle=PRODUCT_SCAN_ORACLE)
def s6_graph_scan_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — `MATCH (p:Product) RETURN p.name, p.price LIMIT 10`
    (reference neo4j_service.py:74) as a pruned projection + sorted
    limit (TakeOrderedAndProject; no full-scan materialization)."""
    prods = catalog.products(spark, sf_dir)
    return prods.select("sku", "name", "price").orderBy(F.col("sku").cast("long")).limit(10)


# ---------------------------------------------------------------------------
# Filters / predicates (P1–P10)
# ---------------------------------------------------------------------------


@register(
    "p1_point_lookup_sku",
    oracle="""
    SELECT p_partkey AS id, p_name AS name, p_retailprice AS price, p_size AS stock_quantity
    FROM part WHERE p_partkey = 42
    """,
)
def p1_point_lookup_sku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — product by sku (reference db_service.py:84-87). The equality
    predicate is pushed into the parquet scan."""
    p = catalog.load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_partkey") == 42).select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("stock_quantity"),
    )


@register(
    "p2_lookup_by_email",
    oracle="""
    SELECT c_custkey AS id, c_custkey || '@x.test' AS email, c_name AS full_name
    FROM customer WHERE c_custkey || '@x.test' = '17@x.test'
    """,
)
def p2_lookup_by_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — customer by email (reference deps.py:40, auth.py:27)."""
    c = catalog.customers(spark, sf_dir)
    return c.filter(F.col("email") == "17@x.test").select("id", "email", "full_name")


@register(
    "p3_ilike_substring",
    oracle="""
    SELECT p_partkey AS id, p_name AS name
    FROM part WHERE lower(p_name) LIKE '%widget%'
    ORDER BY id
    """,
)
def p3_ilike_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — case-insensitive substring match `ilike '%q%'`
    (reference tools.py:48, products.py:29)."""
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        p.filter(F.lower(F.col("p_name")).contains("widget"))
        .select(F.col("p_partkey").alias("id"), F.col("p_name").alias("name"))
        .orderBy("id")
    )


@register(
    "p4_conjunctive_ilike",
    oracle="""
    SELECT p_partkey AS id, p_name AS name
    FROM part
    WHERE lower(p_name) LIKE '%red%' AND lower(p_name) LIKE '%widget%'
    ORDER BY id
    """,
)
def p4_conjunctive_ilike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — AND of two independent substring matches (reference
    tools.py:61-66, first-two-words strategy)."""
    p = catalog.load_table(spark, sf_dir, "part")
    name = F.lower(F.col("p_name"))
    return (
        p.filter(name.contains("red") & name.contains("widget"))
        .select(F.col("p_partkey").alias("id"), F.col("p_name").alias("name"))
        .orderBy("id")
    )


@register(
    "p6_isin_status",
    oracle="""
    SELECT o_orderkey AS id, o_custkey AS customer_id,
           CASE o_orderstatus WHEN 'O' THEN 'PENDING' WHEN 'P' THEN 'PROCESSING'
                ELSE 'DELIVERED' END AS status,
           o_totalprice AS total_amount
    FROM orders
    WHERE o_orderstatus IN ('O', 'P')
    ORDER BY id
    """,
)
def p6_isin_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — cancellable orders: status ∈ {PENDING, PROCESSING}
    (reference db_service.py:172, agent_graph.py:387)."""
    o = catalog.ref_orders(spark, sf_dir)
    return (
        o.filter(F.col("status").isin("PENDING", "PROCESSING"))
        .select("id", "customer_id", "status", "total_amount")
        .orderBy("id")
    )


@register(
    "p7_compound_key",
    oracle="""
    SELECT o_orderkey AS id, o_custkey AS customer_id, o_totalprice AS total_amount
    FROM orders WHERE o_orderkey = 100 AND o_custkey = (
        SELECT o_custkey FROM orders WHERE o_orderkey = 100)
    """,
)
def p7_compound_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — order by (id, customer_id) ownership check
    (reference db_service.py:164-167)."""
    o = catalog.load_table(spark, sf_dir, "orders")
    owner = o.filter(F.col("o_orderkey") == 100).select("o_custkey")
    return (
        o.filter(F.col("o_orderkey") == 100)
        .join(F.broadcast(owner), "o_custkey", "left_semi")
        .select(
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").alias("customer_id"),
            F.col("o_totalprice").alias("total_amount"),
        )
    )


@register(
    "p9_client_search_filter",
    oracle="""
    SELECT p_partkey AS id, p_name AS name, p_brand AS category
    FROM part
    WHERE (lower(CAST(p_partkey AS VARCHAR)) LIKE '%42%' OR lower(p_name) LIKE '%bolt%')
      AND p_brand = 'Brand#4'
    ORDER BY id
    """,
)
def p9_client_search_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9 — sku-or-name contains + category equality (reference
    frontend Products.jsx:141-148, re-expressed server-side)."""
    p = catalog.load_table(spark, sf_dir, "part")
    sku = F.lower(F.col("p_partkey").cast("string"))
    name = F.lower(F.col("p_name"))
    return (
        p.filter((sku.contains("42") | name.contains("bolt")) & (F.col("p_brand") == "Brand#4"))
        .select(
            F.col("p_partkey").alias("id"),
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("category"),
        )
        .orderBy("id")
    )


@register(
    "p10_validity_filter",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE length(trim(text)) > 0 AND text <> 'Error scraping post details'
      AND n_chars > 100
    ORDER BY doc_id
    """,
)
def p10_validity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10 — non-empty / not-error / min-length text validity predicates
    (reference db_service.py:276, website_scraper.py:88)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return (
        d.filter(
            (F.length(F.trim(F.col("text"))) > 0)
            & (F.col("text") != "Error scraping post details")
            & (F.col("n_chars") > 100)
        )
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (O1–O4)
# ---------------------------------------------------------------------------


@register(
    "o1_orderby_desc",
    oracle="""
    SELECT o_orderkey AS id, strftime(o_orderdate, '%Y-%m-%d') AS created_at,
           o_totalprice AS total_amount
    FROM orders ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 20
    """,
)
def o1_orderby_desc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — newest-first orders (reference db_service.py:134,155,184);
    compiles to TakeOrderedAndProject (top-k pushdown, no full sort)."""
    o = catalog.load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
        .limit(20)
        .select(
            F.col("o_orderkey").alias("id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("created_at"),
            F.col("o_totalprice").alias("total_amount"),
        )
    )


@register(
    "o2_two_key_sort",
    oracle="""
    SELECT p_brand AS category_name, p_name AS name, p_retailprice AS price
    FROM part ORDER BY p_brand, p_name, p_partkey LIMIT 50
    """,
)
def o2_two_key_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — `ORDER BY c.name, p.name` products-for-order-form
    (reference neo4j_products.py:39)."""
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        p.orderBy("p_brand", "p_name", "p_partkey")
        .limit(50)
        .select(
            F.col("p_brand").alias("category_name"),
            F.col("p_name").alias("name"),
            F.col("p_retailprice").alias("price"),
        )
    )


@register(
    "o4_topk_by_score",
    oracle="""
    SELECT c_custkey AS id, c_name AS full_name, c_acctbal AS score
    FROM customer ORDER BY c_acctbal DESC, c_custkey LIMIT 5
    """,
)
def o4_topk_by_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — top-k by computed score (reference retriever k=5,
    db_service.py:201-204); TakeOrderedAndProject top-k pushdown."""
    c = catalog.load_table(spark, sf_dir, "customer")
    return (
        c.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .limit(5)
        .select(
            F.col("c_custkey").alias("id"),
            F.col("c_name").alias("full_name"),
            F.col("c_acctbal").alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations (§2.7)
# ---------------------------------------------------------------------------


@register(
    "set_union_sources",
    oracle="""
    SELECT doc_id, source, text FROM documents WHERE source = 'src1'
    UNION ALL
    SELECT doc_id, source, text FROM documents WHERE source = 'src2'
    ORDER BY doc_id
    """,
)
def set_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 — concatenating per-source datasets at ingestion
    (reference db_service.py:418-424) as unionByName."""
    d = catalog.load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("source") == "src1").select("doc_id", "source", "text")
    b = d.filter(F.col("source") == "src2").select("doc_id", "source", "text")
    return a.unionByName(b).orderBy("doc_id")


@register(
    "set_intersect_except",
    oracle="""
    WITH big AS (SELECT o_custkey AS id FROM orders WHERE o_totalprice > 200000),
         pend AS (SELECT o_custkey AS id FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS side, id FROM (SELECT DISTINCT id FROM big INTERSECT SELECT DISTINCT id FROM pend)
    UNION ALL
    SELECT 'big_only' AS side, id FROM (SELECT DISTINCT id FROM big EXCEPT SELECT DISTINCT id FROM pend)
    ORDER BY side, id
    """,
)
def set_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 extension — INTERSECT / EXCEPT over customer key sets."""
    o = catalog.load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 200000).select(F.col("o_custkey").alias("id"))
    pend = o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("id"))
    both = big.intersect(pend).withColumn("side", F.lit("both"))
    only = big.distinct().exceptAll(pend.distinct()).withColumn("side", F.lit("big_only"))
    return both.unionByName(only).select("side", "id").orderBy("side", "id")


# ---------------------------------------------------------------------------
# P11 — result-validity predicate (negated rlike)
# ---------------------------------------------------------------------------

# The raw testdata text never contains failure markers, so the query
# derives a tool-result corpus with deterministic failures (doc_id % 7
# == 0 -> a rotating failure string), mirrored in the oracle — the same
# non-vacuous-fixture pattern the dedup suite uses.
_P11_FAIL = (
    "CASE WHEN doc_id % 21 = 0 THEN 'No result found for query'"
    " WHEN doc_id % 21 = 7 THEN 'Error: upstream tool timeout'"
    " ELSE 'I do not have that information' END"
)


@register(
    "p11_result_validity",
    oracle=f"""
    WITH results AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN {_P11_FAIL} ELSE text END AS result
      FROM documents)
    SELECT doc_id, result
    FROM results
    WHERE NOT regexp_matches(result,
      '(?i)(no result|error|not found|do not have|don''t have|unable to)')
    ORDER BY doc_id
    """,
)
def p11_result_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 — result-validity filter: keep only tool results that are NOT
    failure text, via a negated case-insensitive rlike (reference
    agent_graph.py:121-122,529-533 checks Cypher/tool results against
    'no result|error|not found|...' before trusting them). The regex is
    a pushdown-able row predicate — at 100 TB it rides the parquet scan
    with no shuffle."""
    d = catalog.load_table(spark, sf_dir, "documents")
    fail = (
        F.when(F.col("doc_id") % 21 == 0, "No result found for query")
        .when(F.col("doc_id") % 21 == 7, "Error: upstream tool timeout")
        .otherwise("I do not have that information")
    )
    result = F.when(F.col("doc_id") % 7 == 0, fail).otherwise(F.col("text"))
    invalid = r"(?i)(no result|error|not found|do not have|don't have|unable to)"
    return (
        d.select("doc_id", result.alias("result"))
        .filter(~F.col("result").rlike(invalid))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Text-SQL API surface — the same engine driven through spark.sql()
# instead of the DataFrame builder: a user of the reference who issues
# raw queries (its /db/graph/query endpoint takes query STRINGS) gets
# the identical Catalyst front-end here. The statement itself is the
# multi-way dim-fact join Catalyst exists to optimize: join reordering,
# broadcast selection (explicit hints for the two dims), predicate
# pushdown — all from SQL text.
# ---------------------------------------------------------------------------

_SQL_Q5 = f"""
    SELECT /*+ BROADCAST(n), BROADCAST(c) */
           n.n_name AS nation,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(SUM({money_sql("l.l_extendedprice")}
                    * (1 - {money_sql("l.l_discount")})) AS DOUBLE) AS revenue
    FROM {{cust}} c
    JOIN {{nat}} n ON c.c_nationkey = n.n_nationkey
    JOIN {{ord}} o ON o.o_custkey = c.c_custkey
    JOIN {{li}} l ON l.l_orderkey = o.o_orderkey
    GROUP BY n.n_name
    ORDER BY nation
"""


@register(
    "sql_api_revenue_by_nation",
    oracle=_SQL_Q5.format(cust="customer", nat="nation", ord="orders", li="lineitem")
    .replace("/*+ BROADCAST(n), BROADCAST(c) */", ""),
)
def sql_api_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-nation revenue rollup issued as RAW SQL TEXT through
    spark.sql() — the engine's second front-end (the reference's query
    endpoints take strings; SURVEY §3.2). The DuckDB oracle is the
    LITERALLY IDENTICAL statement minus the Spark broadcast hints, so
    this also certifies the SQL dialect stays in the portable ANSI
    subset. Money math through exact DECIMAL as everywhere.

    Scale: Catalyst plans the 4-way join from text exactly as it does
    from the DataFrame API — nation (25 rows) and customer broadcast
    per hint, orders⋈lineitem shuffles on the order key once, the
    aggregate is map-side combinable. tests/test_plans.py-style probe
    in tests/test_round5_ops.py asserts both BroadcastHashJoins."""
    for t in ("customer", "nation", "orders", "lineitem"):
        catalog.load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlapi_{t}")
    return spark.sql(
        _SQL_Q5.format(
            cust="sqlapi_customer",
            nat="sqlapi_nation",
            ord="sqlapi_orders",
            li="sqlapi_lineitem",
        )
    )


# Keyset cursor: the deterministic (date, key) position a previous page
# ended at. OFFSET pagination re-scans and re-sorts the full prefix on
# every page; the keyset predicate prunes to rows AFTER the cursor and
# the top-k sort stays O(page).
_KS_DATE = "1997-06-01"
_KS_KEY = 0
_KS_PAGE = 20


@register(
    "o5_keyset_pagination",
    oracle=f"""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate > TIMESTAMP '{_KS_DATE}'
       OR (o_orderdate = TIMESTAMP '{_KS_DATE}' AND o_orderkey > {_KS_KEY})
    ORDER BY o_orderdate, o_orderkey LIMIT {_KS_PAGE}
    """,
)
def o5_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5 — keyset (cursor) pagination: the next page after cursor
    (o_orderdate, o_orderkey) = ('{_KS_DATE}', {_KS_KEY}), ordered by
    the same composite key. The reference pages its product lists
    per-request; OFFSET n re-sorts the whole prefix every page —
    keyset instead pushes the cursor predicate INTO THE SCAN
    (PushedFilters on o_orderdate) and the sort+limit plans as
    TakeOrderedAndProject: per-partition top-20 heaps, driver merge,
    cost O(page) regardless of how deep the cursor sits. The shape
    that keeps page 10,000 as cheap as page 1 at 100 TB."""
    o = catalog.load_table(spark, sf_dir, "orders")
    cur = F.lit(_KS_DATE).cast("timestamp")
    after = (F.col("o_orderdate") > cur) | (
        (F.col("o_orderdate") == cur) & (F.col("o_orderkey") > _KS_KEY)
    )
    return (
        o.filter(after)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_KS_PAGE)
    )


@register(
    "set_ops_bag_semantics",
    oracle="""
    WITH a AS (SELECT o_orderpriority AS prio FROM orders WHERE o_orderstatus = 'O'),
    b AS (SELECT o_orderpriority AS prio FROM orders WHERE o_orderstatus = 'F'),
    ex AS (SELECT 'except_all' AS op, prio FROM (SELECT prio FROM a EXCEPT ALL SELECT prio FROM b)),
    ia AS (SELECT 'intersect_all' AS op, prio FROM (SELECT prio FROM a INTERSECT ALL SELECT prio FROM b))
    SELECT op, prio, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT * FROM ex UNION ALL SELECT * FROM ia)
    GROUP BY op, prio ORDER BY op, prio
    """,
)
def set_ops_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 completion — BAG-semantics set operations: EXCEPT ALL and
    INTERSECT ALL over order-priority multisets (open vs finished
    orders), surfaced as per-value multiplicities. Bag semantics are
    what dedup accounting actually needs (EXCEPT collapses to one row
    per value and silently loses counts); Spark's exceptAll /
    intersectAll plan as hash aggregations on the value with count
    arithmetic — one shuffle each on the compared key, no sort, and
    the multiplicity math is exact integers so the oracle hash is
    trivial."""
    o = catalog.load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("prio")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("prio")
    )
    ex = a.exceptAll(b).select(F.lit("except_all").alias("op"), "prio")
    ia = a.intersectAll(b).select(F.lit("intersect_all").alias("op"), "prio")
    return (
        ex.unionByName(ia)
        .groupBy("op", "prio")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("op", "prio")
    )


# ---------------------------------------------------------------------------
# SQL front-end FAMILY (VERDICT r05 #2). sql_api_revenue_by_nation
# proved one statement stays dialect-portable; these four widen the
# certified surface to the SQL shapes the DataFrame queries cover but
# the text path didn't: a ranked window, correlated EXISTS + IN
# subqueries (Catalyst decorrelation vs DuckDB's), a grouped HAVING,
# and a CTE chain feeding a window. Each statement is submitted to
# spark.sql() VERBATIM and to DuckDB minus only the broadcast hints —
# the statement IS the oracle, so a dialect divergence (type coercion,
# rank semantics, decorrelation bug) hash-mismatches immediately.
# Money/quantity math through exact DECIMAL everywhere so summation
# order can't skew the doubles.
# ---------------------------------------------------------------------------

_SQLAPI_TABLES = ("customer", "nation", "orders", "lineitem", "part")


def _sqlapi_views(spark: SparkSession, sf_dir: str) -> None:
    for t in _SQLAPI_TABLES:
        catalog.load_table(spark, sf_dir, t).createOrReplaceTempView(f"sqlapi_{t}")


def _strip_hints(sql: str) -> str:
    import re as _re

    return _re.sub(r"/\*\+[^*]*\*/", "", sql)


# Windowed top-N from text: per-customer 3 largest finished orders.
# ROW_NUMBER with a full tiebreaker (price DESC, key) so both engines
# rank identically; plans as one hash-partitioned window over
# o_custkey — no global sort.
_SQL_WINDOW = """
    SELECT o_custkey, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk
      FROM {ord}
      WHERE o_orderstatus = 'F'
    ) t
    WHERE rk <= 3
    ORDER BY o_custkey, rk
"""


@register(
    "sql_api_window_topn",
    oracle=_SQL_WINDOW.format(ord="orders"),
)
def sql_api_window_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: ranked-window top-3 orders per customer from raw
    text. Certifies window-function semantics (frame, rank numbering,
    tie handling) agree across the dialect. Scale: the status filter
    pushes to the scan, the window hash-partitions on o_custkey (one
    shuffle), rk <= 3 prunes before the final order — no global
    single-partition window anywhere."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_WINDOW.format(ord="sqlapi_orders"))


# Correlated NOT EXISTS (decorrelates to an anti join) + IN subquery
# (semi join) in one statement — the two rewrite classes §3.2's NL
# planner also emits, here certified from SQL text.
_SQL_EXISTS = """
    SELECT c.c_custkey, c.c_name
    FROM {cust} c
    WHERE NOT EXISTS (SELECT 1 FROM {ord} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
      AND c.c_nationkey IN (SELECT n_nationkey FROM {nat} WHERE n_name LIKE 'NATION_1%')
    ORDER BY c.c_custkey
"""


@register(
    "sql_api_exists_in",
    oracle=_SQL_EXISTS.format(cust="customer", ord="orders", nat="nation"),
)
def sql_api_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: customers in NATION_1x nations with no
    PROCESSING order — correlated NOT EXISTS (with an inner predicate,
    so the decorrelation must push it into the anti-join's build side)
    plus an IN subquery in one statement. Catalyst decorrelates to a
    left-anti join on o_custkey and a left-semi broadcast join on the
    25-row nation subquery; DuckDB runs its own decorrelation —
    matching outputs certify both rewrites (28 rows at sf0.01; the
    every-customer-has-orders shape of the testdata makes a bare
    NOT EXISTS vacuous, hence the status-scoped inner predicate).
    Scale: anti join shuffles on the customer key once; the IN side is
    a broadcast."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(
        _SQL_EXISTS.format(
            cust="sqlapi_customer", ord="sqlapi_orders", nat="sqlapi_nation"
        )
    )


# Grouped HAVING: post-aggregation predicate from text.
_SQL_HAVING = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM({money_sql("l_quantity")}) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM {{li}}
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 100
    ORDER BY l_returnflag, l_linestatus
"""


@register(
    "sql_api_having",
    oracle=_SQL_HAVING.format(li="lineitem"),
)
def sql_api_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: grouped aggregate with a HAVING filter on a
    non-projected aggregate (COUNT), quantity summed through exact
    DECIMAL. Certifies HAVING resolution order and aggregate type
    coercion. Scale: map-side-combinable aggregate on a 4-value
    composite key; HAVING evaluates post-merge on a handful of rows."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_HAVING.format(li="sqlapi_lineitem"))


# CTE chain: aggregate CTE -> windowed CTE -> final projection.
_SQL_CTE = f"""
    WITH brand_rev AS (
      SELECT /*+ BROADCAST(p) */ p.p_brand AS brand,
             SUM({money_sql("l.l_extendedprice")}
                 * (1 - {money_sql("l.l_discount")})) AS rev
      FROM {{li}} l JOIN {{part}} p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand
    ), ranked AS (
      SELECT brand, rev,
             CAST(DENSE_RANK() OVER (ORDER BY rev DESC, brand) AS INT) AS rnk
      FROM brand_rev
    )
    SELECT brand, CAST(rev AS DOUBLE) AS revenue, rnk
    FROM ranked
    WHERE rnk <= 10
    ORDER BY rnk, brand
"""


@register(
    "sql_api_cte_rank",
    oracle=_strip_hints(_SQL_CTE.format(li="lineitem", part="part")),
)
def sql_api_cte_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end: CTE chain — per-brand revenue (broadcast dim
    join, exact-DECIMAL money math) feeding a DENSE_RANK window, top
    10 brands. Certifies CTE scoping, decimal propagation through a
    chain, and rank-over-aggregate semantics. The rev ORDER in the
    window compares exact decimals, so rank ties are impossible to
    skew by float noise; ties on equal revenue break by brand. Scale:
    the only data shuffle is the brand aggregate (map-side combined);
    the window input is |brands| rows on one partition — bounded by
    the brand domain, not the data."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_CTE.format(li="sqlapi_lineitem", part="sqlapi_part"))


@register(
    "sql_api_parameterized",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY priority
    """,
)
def sql_api_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — PARAMETERIZED statement (Spark 4 named
    parameter markers, `spark.sql(sql, args=...)`): the injection-safe
    text-query shape every §3.2-style service should use instead of
    string interpolation — parameters bind as typed literals in the
    analyzer, so Catalyst constant-folds them and the orderdate bounds
    still prune at the scan exactly like hardcoded literals. The
    oracle is the same statement with the literals inlined, proving
    binding is semantically invisible."""
    catalog.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlapi_orders"
    )
    return spark.sql(
        f"""
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
        FROM sqlapi_orders
        WHERE o_orderdate >= CAST(:start AS TIMESTAMP)
          AND o_orderdate < CAST(:end AS TIMESTAMP)
          AND o_orderstatus = :status
        GROUP BY o_orderpriority ORDER BY priority
        """,
        args={
            "start": "1996-01-01 00:00:00",
            "end": "1997-01-01 00:00:00",
            "status": "F",
        },
    )


_SQL_RCTE = """
WITH RECURSIVE pairs AS (
  SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
  FROM {li} a JOIN {li} b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
sym AS (SELECT lo AS src, hi AS dst FROM pairs
        UNION ALL SELECT hi AS src, lo AS dst FROM pairs),
walk(node, depth) AS (
  SELECT CAST(42 AS BIGINT) AS node, 0 AS depth
  UNION ALL
  SELECT s.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN sym s ON s.src = w.node WHERE w.depth < 2)
SELECT node, CAST(MIN(depth) AS INT) AS min_depth,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM walk GROUP BY node ORDER BY min_depth, node
"""

# Engine-side statement: the RECURSIVE walk + aggregate only, over a
# pre-materialized symmetric edge view (see
# sql_api_recursive_reachability for why).
_SQL_RCTE_WALK = """
WITH RECURSIVE walk(node, depth) AS (
  SELECT CAST(42 AS BIGINT) AS node, 0 AS depth
  UNION ALL
  SELECT s.dst AS node, w.depth + 1 AS depth
  FROM walk w JOIN {sym} s ON s.src = w.node WHERE w.depth < 2)
SELECT node, CAST(MIN(depth) AS INT) AS min_depth,
       CAST(COUNT(*) AS BIGINT) AS n_paths
FROM walk GROUP BY node ORDER BY min_depth, node
"""


@register(
    "sql_api_recursive_reachability",
    oracle=_SQL_RCTE.format(li="lineitem"),
)
def sql_api_recursive_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — RECURSIVE CTE (Spark 4.1): bounded-depth
    reachability over the part co-purchase graph from one seed,
    returning per-node minimum hop distance and ≤2-hop path counts —
    the transitive-traversal class (§2.10's graph walks) expressed in
    SQL TEXT, where the DataFrame side needs an explicit iteration
    loop (graph_k_core_fixpoint) or a union-find of the contracted
    graph (connected_components). Both engines' WITH RECURSIVE executes the
    same anchor + UNION ALL step semantics, and the depth bound
    guarantees termination on the cyclic graph without relying on
    either engine's cycle handling. Path counts are exact integers, so
    the hash certifies the full multiset of walks, not just
    reachability.

    The co-purchase edge list is built once with the DataFrame API
    (graph.co_occurrence_edges — the lineitem self-join + DISTINCT the
    oracle's `pairs` CTE states) and lazily checkpointed behind a temp
    view; only the recursive walk runs as SQL text. Spark's
    recursive-CTE execution re-evaluates non-recursive CTEs referenced
    from the recursive step once PER ITERATION, so the single-statement
    form would rebuild the edges every walk step (8.5 s vs 3.8 s warm
    at sf0.1). The oracle stays the single-statement form (DuckDB
    materializes multi-referenced CTEs itself); the full statement
    still runs through the engine in
    tests/test_r13_optimizations.py::test_full_rcte_statement_engine_coverage.

    Scale: recursion depth is a CONSTANT (2) — each step is one
    equi-join of the frontier against the MATERIALIZED edge list (at
    100 TB: the edge build is paid once, not once per hop), the same
    per-round budget as the iterative graph operators; the final
    GROUP BY is map-side combinable."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    sym = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    sym.createOrReplaceTempView("sqlapi_rcte_sym")
    return spark.sql(_SQL_RCTE_WALK.format(sym="sqlapi_rcte_sym"))


# NOT IN with a NULLABLE subquery column — the anti-join variant with
# SQL's hardest semantics: one NULL in the list makes NOT IN return
# UNKNOWN for every non-matching row (i.e. an empty result), so the
# engine cannot plan a plain anti join unless it can PROVE the list
# null-free; over a nullable expression Spark must emit its null-aware
# anti join (BroadcastHashJoin LeftAnti with isNullAware=true —
# pinned in tests/test_plans.py). The CASE wrapper forces a nullable
# type while never actually producing NULL at runtime, so the result
# stays non-degenerate AND both engines' tri-valued logic is on the
# hook: an engine that planned a plain anti join over a genuinely
# null-containing list would return rows where SQL says none.
_SQL_NOT_IN = """
    SELECT c.c_custkey, c.c_name
    FROM {cust} c
    WHERE c.c_nationkey NOT IN (SELECT CASE WHEN n.n_name <> '' THEN n.n_nationkey END
                                FROM {nat} n WHERE n.n_name LIKE 'NATION_1%')
      AND c.c_mktsegment = 'MACHINERY'
    ORDER BY c.c_custkey
"""


@register(
    "sql_api_not_in_null_aware",
    oracle=_SQL_NOT_IN.format(cust="customer", nat="nation"),
)
def sql_api_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — NOT IN over a nullable subquery column: the
    null-aware anti join (the one anti-join shape sql_api_exists_in's
    NOT EXISTS does NOT certify: NOT EXISTS ignores NULLs, NOT IN
    must poison on them). Catalyst plans BroadcastHashJoin LeftAnti
    with isNullAware=true; DuckDB runs its own null-aware rewrite —
    matching outputs certify the tri-valued semantics agree. Scale:
    the list side is a broadcast (null-aware anti join REQUIRES a
    broadcastable right side in Spark — at 100 TB a huge NOT IN list
    should be rewritten to NOT EXISTS + IS NOT NULL by the author,
    which the optimizer can shuffle; that asymmetry is the design
    reason this query exists as documentation)."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_NOT_IN.format(cust="sqlapi_customer", nat="sqlapi_nation"))


# LATERAL correlated subquery with ORDER BY ... LIMIT — the "per-row
# subtable" construct (SQL:1999 lateral derived table). A naive engine
# re-executes the subquery per outer row; Catalyst DECORRELATES the
# correlated LIMIT into a WindowGroupLimit (partial on the map side,
# final after one hash exchange) + row_number window + equi-join —
# i.e. the exact distributed per-group top-k rewrite w3_topn_per_group
# hand-writes, derived automatically from lateral TEXT. Pinned in
# tests/test_plans.py.
_SQL_LATERAL = """
    SELECT n.n_name AS nation, t.s_name AS supplier,
           CAST(t.s_acctbal AS DOUBLE) AS acctbal
    FROM {nat} n,
    LATERAL (SELECT s.s_name, s.s_acctbal FROM {sup} s
             WHERE s.s_nationkey = n.n_nationkey
             ORDER BY s.s_acctbal DESC, s.s_name LIMIT 2) t
    ORDER BY nation, acctbal DESC, supplier
"""


@register(
    "sql_api_lateral_topk",
    oracle=_SQL_LATERAL.format(nat="nation", sup="supplier"),
)
def sql_api_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — LATERAL derived table: each nation's top-2
    suppliers by account balance, written as a correlated lateral
    subquery with its own ORDER BY/LIMIT (the form ORMs and analysts
    reach for before they know window functions). Catalyst plans it as
    WindowGroupLimit + row_number + one equi-join — per-partition
    top-k pre-pruning before the shuffle, never a per-outer-row
    re-execution and never a nested loop; DuckDB runs its own lateral
    decorrelation, so the matching hash certifies both engines'
    rewrites of the same text. Deterministic (acctbal, name) tiebreak
    inside the LIMIT."""
    _sqlapi_views(spark, sf_dir)
    catalog.load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "sqlapi_supplier"
    )
    return spark.sql(_SQL_LATERAL.format(nat="sqlapi_nation", sup="sqlapi_supplier"))


# GROUP BY ALL / ORDER BY ALL — the analyst-dialect shorthand both
# engines now share (Spark 4 / DuckDB); certifies the resolution rule
# (every non-aggregate select item becomes a group key, in select
# order) agrees cross-dialect. Statement == oracle verbatim.
_SQL_GBA = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({money_sql("l_quantity")}) AS DOUBLE) AS sum_qty
    FROM {{li}}
    GROUP BY ALL
    ORDER BY ALL
"""


@register(
    "sql_api_group_by_all",
    oracle=_SQL_GBA.format(li="lineitem"),
)
def sql_api_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — GROUP BY ALL + ORDER BY ALL: the
    dimensions-implied-by-projection shorthand. Certifies that both
    engines resolve the same group keys (the two non-aggregate select
    items) and the same total order (all select items, left to
    right). Same plan as the explicit form: map-side-combinable
    aggregate on the 6-value composite key."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_GBA.format(li="sqlapi_lineitem"))


@register(
    "sql_api_exec_immediate_vars",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    WHERE o_totalprice >= 50000.0 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority ORDER BY priority
    """,
)
def sql_api_exec_immediate_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — session VARIABLES + EXECUTE IMMEDIATE (Spark 4):
    the dynamic-SQL surface done injection-safely — DECLARE VARIABLE /
    SET VAR hold typed session state, and EXECUTE IMMEDIATE runs a
    statement STRING with `?` placeholders bound via USING from the
    variables (the pattern that replaces f-string SQL assembly in
    §3.2-style services; a malicious value stays a typed literal, it
    never concatenates into the text). The oracle is the fully inlined
    statement, proving the two binding hops are semantically
    invisible. Catalyst constant-folds the bound literals, so the
    totalprice bound still prunes at the scan like a hardcoded one."""
    catalog.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlapi_orders"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE sqlapi_minprice DOUBLE DEFAULT 0.0")
    spark.sql("SET VAR sqlapi_minprice = 50000.0")
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority AS priority,
                  CAST(COUNT(*) AS BIGINT) AS n_orders
           FROM sqlapi_orders
           WHERE o_totalprice >= ? AND o_orderstatus = ''F''
           GROUP BY o_orderpriority ORDER BY priority'
        USING sqlapi_minprice
        """
    )


# SQL scalar UDF (Spark 4 `CREATE FUNCTION ... RETURNS ... RETURN
# expr`): the catalog-registered reusable-expression surface. The body
# is pure SQL, so Catalyst INLINES it at analysis — the plan is
# identical to writing the expression by hand (no Python boundary, no
# black box; whole-stage codegen applies) — which is exactly why this
# is the right first reach for shared business logic at 100 TB, before
# any Python UDF. The body keeps the product at natural DECIMAL
# precision (never rescaled — engines round differently) and the
# oracle inlines the same expression, certifying the UDF indirection
# invisible.
_SQL_UDF_BODY = (
    f"{money_sql('p')} * (1 - {money_sql('d')})"
)


@register(
    "sql_api_sql_udf",
    oracle=f"""
    SELECT l_returnflag,
           CAST(SUM({money_sql("l_extendedprice")}
                    * (1 - {money_sql("l_discount")})) AS DOUBLE)
             AS revenue
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def sql_api_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — SQL scalar UDF (see _SQL_UDF_BODY comment):
    CREATE TEMPORARY FUNCTION with a SQL body, inlined by the analyzer
    so the aggregate below plans exactly like the handwritten
    expression (DECIMAL product summed exactly, one cast to double at
    the end)."""
    _sqlapi_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION sqlapi_disc_price"
        f"(p DOUBLE, d DOUBLE) RETURNS DECIMAL(38,4) RETURN {_SQL_UDF_BODY}"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(sqlapi_disc_price(l_extendedprice, l_discount))
                    AS DOUBLE) AS revenue
        FROM sqlapi_lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


# Lateral column aliases (Spark 3.4+/DuckDB): a select item referencing
# an EARLIER alias in the same list — the spreadsheet-style derivation
# chain analysts write. Statement == oracle verbatim; the DECIMAL
# chain stays at natural precision INTERNALLY (price_d scale 2, tax
# scale 4, total scale 4) so the arithmetic is exact in both engines,
# but the OUTPUT columns are cast to DOUBLE: r08's driver row proved
# that DECIMAL-typed outputs diverge in the driver's pandas
# canonicalization (Spark `toPandas()` keeps `Decimal('5647.3130')`
# objects; DuckDB `fetchdf()` converts to float64 `5647.313`) even
# when the values are bit-identical. The scale-2/scale-4 decimals of
# sub-1e6 magnitudes convert to DOUBLE exactly, so the cast loses
# nothing; the lateral-alias chain under test is untouched in the
# inner select.
_SQL_LCA = f"""
    SELECT o_orderkey,
           CAST(price_d AS DOUBLE) AS price_d,
           CAST(tax AS DOUBLE) AS tax,
           CAST(total AS DOUBLE) AS total
    FROM (
        SELECT o_orderkey,
               {money_sql("o_totalprice")} AS price_d,
               price_d * {rate_sql("0.05")} AS tax,
               price_d + tax AS total
        FROM {{o}} WHERE o_orderkey < 100
    ) ORDER BY o_orderkey
"""


@register(
    "sql_api_lateral_column_alias",
    oracle=_SQL_LCA.format(o="orders"),
)
def sql_api_lateral_column_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — lateral column aliases: `tax` references the
    `price_d` alias and `total` references BOTH, all in one select
    list (no subquery nesting inside the chain). Certifies both
    engines resolve the chain left-to-right identically; Catalyst
    rewrites to nested projections, so the plan is still one
    codegen'd pass over the scan. The outer select exists only to
    cast the DECIMAL chain to DOUBLE for driver-portable output (see
    _SQL_LCA comment)."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_LCA.format(o="sqlapi_orders"))


@register(
    "sql_api_identifier_clause",
    oracle="""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderstatus ORDER BY status
    """,
)
def sql_api_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — IDENTIFIER(:param) clause: the injection-safe
    DYNAMIC OBJECT NAME surface (Spark 4), completing the dynamic-SQL
    kit next to named-parameter binding (sql_api_parameterized) and
    EXECUTE IMMEDIATE (sql_api_exec_immediate_vars): a table name
    arrives as a typed string parameter and the analyzer resolves it
    as an identifier — it can NEVER splice arbitrary SQL text the way
    f-string table names can. The oracle is the statement with the
    name inlined, proving the indirection invisible."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
        FROM IDENTIFIER(:tbl) GROUP BY o_orderstatus ORDER BY status
        """,
        args={"tbl": "sqlapi_orders"},
    )


@register(
    "sql_api_pivot_stmt",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                         THEN {money_sql("o_totalprice")} END)
                AS DOUBLE) AS total_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                         THEN {money_sql("o_totalprice")} END)
                AS DOUBLE) AS total_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                         THEN {money_sql("o_totalprice")} END)
                AS DOUBLE) AS total_p
    FROM orders GROUP BY o_orderpriority ORDER BY priority
    """,
)
def sql_api_pivot_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — the PIVOT statement (18th statement class):
    status columns rotated out of rows inside pure SQL. Spark lowers
    PIVOT to exactly the conditional-aggregation plan the oracle
    spells out (one map-side-combinable aggregate over the group key —
    pivot_first per value, no join, no second pass), so the statement
    is a front-end convenience with zero plan cost; the DataFrame
    twin is agg_pivot_unpivot. DECIMAL sums inside, one cast to
    double per cell outside — groups missing a status stay NULL on
    both engines."""
    catalog.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlapi_orders"
    )
    return spark.sql(
        f"""
        SELECT priority,
               CAST(f AS DOUBLE) AS total_f,
               CAST(o AS DOUBLE) AS total_o,
               CAST(p AS DOUBLE) AS total_p
        FROM (
          SELECT o_orderpriority AS priority, o_orderstatus AS status,
                 {money_sql("o_totalprice")} AS price
          FROM sqlapi_orders
        )
        PIVOT (SUM(price) FOR status IN ('F' AS f, 'O' AS o, 'P' AS p))
        ORDER BY priority
        """
    )


@register(
    "agg_scalar_subquery_reuse",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_big,
           ROUND(MAX(o_totalprice)
                 / (SELECT MAX(o_totalprice) FROM orders), 6)
             AS top_share
    FROM orders
    WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM orders) / 2
    GROUP BY o_orderpriority ORDER BY priority
    """,
)
def agg_scalar_subquery_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR-SUBQUERY REUSE anchor: the same `(SELECT MAX(...))`
    appears in the WHERE filter and in the projection, and Spark's
    ReuseSubquery rule executes it ONCE — the second occurrence is a
    ReusedSubquery over the first's result (pinned in
    tests/test_plans.py). The reference's cascading Cypher templates
    re-issue such statistics per clause; here the plan itself
    deduplicates them. MAX is order-insensitive (exact double), so
    both halves of the predicate chain are bit-identical on both
    engines; at 100 TB the reuse halves the statistic's scan cost and
    the filter half prunes before the group-by shuffle."""
    catalog.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlapi_orders"
    )
    return spark.sql(
        """
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_big,
               ROUND(MAX(o_totalprice)
                     / (SELECT MAX(o_totalprice) FROM sqlapi_orders), 6)
                 AS top_share
        FROM sqlapi_orders
        WHERE o_totalprice > (SELECT MAX(o_totalprice) FROM sqlapi_orders) / 2
        GROUP BY o_orderpriority ORDER BY priority
        """
    )


@register(
    "sql_api_unpivot_stmt",
    oracle=f"""
    SELECT o_orderpriority AS priority, o_orderstatus AS status,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    GROUP BY 1, 2 ORDER BY priority, status
    """,
)
def sql_api_unpivot_stmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — the UNPIVOT statement (19th statement class),
    round-tripping sql_api_pivot_stmt's rotation: a wide conditional
    aggregate is rotated BACK to (priority, status, total) rows inside
    pure SQL. UNPIVOT's default NULL-exclusion matches the direct
    long-form aggregate exactly (a status with no orders in a priority
    produces no wide cell and no long row), which the oracle computes
    first-principles. Spark lowers UNPIVOT to an Expand node — one
    pass, rows × 3 output, no join, no shuffle beyond the originating
    aggregate."""
    catalog.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlapi_orders"
    )
    return spark.sql(
        f"""
        WITH wide AS (
          SELECT o_orderpriority AS priority,
                 SUM(CASE WHEN o_orderstatus = 'F'
                          THEN {money_sql("o_totalprice")} END) AS f,
                 SUM(CASE WHEN o_orderstatus = 'O'
                          THEN {money_sql("o_totalprice")} END) AS o,
                 SUM(CASE WHEN o_orderstatus = 'P'
                          THEN {money_sql("o_totalprice")} END) AS p
          FROM sqlapi_orders GROUP BY o_orderpriority)
        SELECT priority, status, CAST(total AS DOUBLE) AS total
        FROM wide UNPIVOT (total FOR status IN (f AS `F`, o AS `O`, p AS `P`))
        ORDER BY priority, status
        """
    )


_SQL_FILTER_CLAUSE = f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
             AS n_finished,
           CAST(SUM({money_sql("o_totalprice")})
                  FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
             AS finished_value,
           CAST(COUNT(*) FILTER (WHERE o_totalprice > 100000.0) AS BIGINT)
             AS n_big
    FROM {{orders}} GROUP BY o_orderpriority ORDER BY priority
"""


@register(
    "sql_api_filter_clause",
    oracle=_SQL_FILTER_CLAUSE.format(orders="orders"),
)
def sql_api_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — the aggregate FILTER clause (20th statement
    surface): per-aggregate predicates inside ONE grouping pass,
    statement == oracle verbatim (both engines implement the standard
    clause; Spark lowers each FILTER to a conditional aggregate — the
    same single-scan plan agg_multi_distinct_expand's docstring
    contrasts with per-metric scans). DECIMAL sum inside, one cast
    out."""
    catalog.load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "sqlapi_orders"
    )
    return spark.sql(_SQL_FILTER_CLAUSE.format(orders="sqlapi_orders"))


# ORDER BY ALL (Spark 4 / DuckDB): sort by every select-list item left
# to right — the "give me deterministic output" shorthand analysts
# reach for. Statement == oracle verbatim.
_SQL_ORDER_BY_ALL = """
    SELECT o_orderstatus AS status,
           o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM {orders} GROUP BY ALL ORDER BY ALL
"""


@register(
    "sql_api_order_by_all",
    oracle=_SQL_ORDER_BY_ALL.format(orders="orders"),
)
def sql_api_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — ORDER BY ALL (21st statement surface), composed
    with GROUP BY ALL (sql_api_group_by_all): both engines resolve ALL
    to the full select list in order, so the statement runs verbatim
    as its own oracle. Plans as one agg exchange + a bounded
    |status×priority| sort — the ALL sugar adds nothing physical."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_ORDER_BY_ALL.format(orders="sqlapi_orders"))


# LIMIT/OFFSET pagination statement. OFFSET is the anti-pattern page
# cursor at scale — the engine must still produce (and discard) the
# first `offset` rows of the global order, so page N costs O(N·page);
# o5_keyset_pagination is the production form (seek on an indexed/
# sorted key). Registered to pin the STATEMENT semantics both engines
# share; the two docstrings together document the tradeoff.
_SQL_LIMIT_OFFSET = f"""
    SELECT o_orderkey, o_custkey,
           CAST({money_sql("o_totalprice")} AS DOUBLE) AS price
    FROM {{orders}} ORDER BY o_orderkey LIMIT 10 OFFSET 25
"""


@register(
    "sql_api_limit_offset",
    oracle=_SQL_LIMIT_OFFSET.format(orders="orders"),
)
def sql_api_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — LIMIT ... OFFSET (22nd statement surface).
    Spark plans the total-ordered prefix as ONE TakeOrderedAndProject
    of limit+offset rows (map-side partial top-35, no global sort) and
    drops the offset at the end — correct, but the cost grows with the
    page start, which is why the keyset twin exists."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(_SQL_LIMIT_OFFSET.format(orders="sqlapi_orders"))


# Named WINDOW clause: one window definition shared by several
# window functions — the deduplicated form of the three-OVER-clauses
# statement every sessionization query starts as. The frame is the
# default RANGE UNBOUNDED PRECEDING for rank/lag (both engines agree);
# value passes through UNTOUCHED (raw stored doubles hash bit-equal —
# no arithmetic, per the no-transcendentals discipline).
# NOTE: Spark 4.1 does NOT parse QUALIFY (probed 2026-08:
# PARSE_SYNTAX_ERROR — tests/test_round10_ops.py pins this), so both
# engines run the identical CTE-with-rank-filter spelling; if a Spark
# upgrade adds QUALIFY the probe test flips and the shorter form can
# replace the CTE.


@register(
    "sql_api_named_window",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id,
             CAST(rank() OVER w AS BIGINT) AS rnk,
             lag(value) OVER w AS prev_value
      FROM events WHERE user_id < 20
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id, rnk, prev_value
    FROM ranked WHERE rnk <= 3 ORDER BY user_id, rnk
    """,
)
def sql_api_named_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — named WINDOW clause (23rd statement surface):
    one shared window spec feeding rank() and lag() in a single
    hash-partitioned window pass (user-sharded, never a global sort).
    Both engines run the identical CTE-with-rank-filter spelling;
    Spark 4.1 has no QUALIFY (probed — see the parser-probe test in
    tests/test_round10_ops.py, which flips when an upgrade adds it)."""
    catalog.load_table(spark, sf_dir, "events").createOrReplaceTempView(
        "sqlapi_events"
    )
    return spark.sql(
        """
        WITH ranked AS (
          SELECT user_id, event_id,
                 CAST(rank() OVER w AS BIGINT) AS rnk,
                 lag(value) OVER w AS prev_value
          FROM sqlapi_events WHERE user_id < 20
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT user_id, event_id, rnk, prev_value
        FROM ranked WHERE rnk <= 3 ORDER BY user_id, rnk
        """
    )


# Inline VALUES relation: the literal lookup table analysts join
# against without creating anything — here the priority→tier mapping.
# Spark spells it `FROM VALUES ... AS t(...)`, DuckDB needs the
# parenthesized `(VALUES ...) AS t(...)`; semantics identical.
_TIER_ROWS = """('1-URGENT','hot'),('2-HIGH','hot'),('3-MEDIUM','warm'),
             ('4-NOT SPECIFIED','cold'),('5-LOW','cold')"""


@register(
    "sql_api_values_inline",
    oracle=f"""
    SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({money_sql("o.o_totalprice")}) AS DOUBLE)
             AS total
    FROM orders o
    JOIN (VALUES {_TIER_ROWS}) AS t(prio, tier)
      ON o.o_orderpriority = t.prio
    GROUP BY t.tier ORDER BY t.tier
    """,
)
def sql_api_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — inline VALUES relation (24th statement
    surface): a literal mapping table joined straight into the query,
    no temp view, no createDataFrame. Catalyst plans the 5-row
    relation as a LocalRelation and broadcast-joins it — the
    zero-infrastructure dimension join. DECIMAL sum, one cast out."""
    _sqlapi_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM({money_sql("o.o_totalprice")}) AS DOUBLE)
                 AS total
        FROM sqlapi_orders o
        JOIN (VALUES {_TIER_ROWS}) AS t(prio, tier)
          ON o.o_orderpriority = t.prio
        GROUP BY t.tier ORDER BY t.tier
        """
    )


@register(
    "sql_api_sql_table_udf",
    oracle=f"""
    WITH f AS (
      SELECT o_custkey, o_orderkey,
             CAST({money_sql("o_totalprice")} AS DOUBLE) AS total,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY {money_sql("o_totalprice")} DESC,
                                         o_orderkey) AS rn
      FROM orders WHERE o_custkey IN (7, 11, 21))
    SELECT CAST(o_custkey AS BIGINT) AS cust_id, o_orderkey, total
    FROM f WHERE rn <= 3
    ORDER BY cust_id, total DESC, o_orderkey
    """,
)
def sql_api_sql_table_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front-end — SQL TABLE function (25th statement surface,
    completing the SQL-UDF pair begun by sql_api_sql_udf): CREATE
    TEMPORARY FUNCTION ... RETURNS TABLE with a parameterized SELECT
    body, invoked through LATERAL against an inline VALUES driver
    relation — 'top 3 orders per requested customer' as a reusable,
    analyzer-inlined table abstraction. The oracle is the body
    hand-inlined (a per-customer rank window over the same filtered
    scan), proving the function indirection changes no values. The
    invocation uses literal arguments per call — a correlated
    LATERAL over the driver relation would be the other form, but
    Spark 4.1 mis-plans correlated lateral table-function bodies
    that contain ORDER BY + LIMIT to an incorrect result (empty at
    the r09 measurement; wrong-and-incomplete rows at the r10 probe
    in tests/test_round10_ops.py, which flips when a Spark upgrade
    fixes the planner), so the statement sticks to what the engine
    executes correctly."""
    _sqlapi_views(spark, sf_dir)
    spark.sql(
        f"""
        CREATE OR REPLACE TEMPORARY FUNCTION sqlapi_cust_top(cust BIGINT)
        RETURNS TABLE(o_orderkey BIGINT, total DOUBLE)
        RETURN SELECT o_orderkey,
                      CAST({money_sql("o_totalprice")} AS DOUBLE)
               FROM sqlapi_orders WHERE o_custkey = cust
               ORDER BY 2 DESC, o_orderkey LIMIT 3
        """
    )
    return spark.sql(
        """
        SELECT CAST(7 AS BIGINT) AS cust_id, o_orderkey, total
        FROM sqlapi_cust_top(7)
        UNION ALL
        SELECT 11, o_orderkey, total FROM sqlapi_cust_top(11)
        UNION ALL
        SELECT 21, o_orderkey, total FROM sqlapi_cust_top(21)
        ORDER BY cust_id, total DESC, o_orderkey
        """
    )
