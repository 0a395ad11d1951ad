"""Planning-layer queries (SURVEY.md §3.1–3.2 + P5): the deterministic
router, the NL→plan template dispatch, and the multi-stage fallback
matcher — each end-to-end and oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.functions.scalar import money, money_cents_sql
from sales_agent_graphdb_spark.operators import matcher
from sales_agent_graphdb_spark.plans import graph_planner, router
from sales_agent_graphdb_spark.queries.relational import PRODUCT_SCAN_ORACLE
from sales_agent_graphdb_spark.registry import register


@register(
    "route_dispatch",
    oracle=f"""
    SELECT doc_id, {router.duckdb_route_sql("text")} AS route
    FROM documents ORDER BY doc_id
    """,
)
def route_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 stage 4 — the 6-way router as one codegen'd projection over
    a batch of 500 real questions (document texts): the deterministic
    equivalent of the reference's LLM dispatch (agent_graph.py:275-317).
    Word-boundary regex precedence must match the oracle exactly."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select("doc_id", router.route_col(F.col("text")).alias("route")).orderBy(
        "doc_id"
    )


_P5_QUERY = "widget red"  # no exact/substring hit => stage-3 fallback wins


@register(
    "p5_multistage_fallback",
    oracle=f"""
    WITH scored AS (
      SELECT p_partkey AS id, p_name AS name,
             {matcher.duckdb_stage_sql("p_name", _P5_QUERY)} AS match_stage
      FROM part),
    hit AS (SELECT * FROM scored WHERE match_stage IS NOT NULL)
    SELECT id, name, CAST(match_stage AS INT) AS match_stage FROM hit
    WHERE match_stage = (SELECT MIN(match_stage) FROM hit)
    ORDER BY id
    """,
)
def p5_multistage_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — multi-stage fallback match (reference tools.py:31-85:
    exact → substring → two-word AND → one-word, first stage with rows
    wins). One scan + 1-row broadcast instead of four sequential
    queries; '{query}' forces the stage-3 branch."""
    p = catalog.products(spark, sf_dir).select("id", "name")
    hits = matcher.multistage_match(p, _P5_QUERY, name_col="name")
    return hits.select(
        "id", "name", F.col("match_stage").cast("int").alias("match_stage")
    ).orderBy("id")


@register(
    "nl2plan_category_browse",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS sku, p_name AS name,
           p_retailprice AS price, p_brand AS category_name
    FROM part WHERE lower(p_brand) LIKE '%brand#13%'
    ORDER BY p_partkey LIMIT 10
    """,
)
def nl2plan_category_browse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 T2 — 'show me Brand#13 products' → core-noun extraction →
    category-browse template (join + contains filter + LIMIT 10), the
    deterministic form of the reference's LLM Cypher codegen
    (neo4j_service.py:72-73)."""
    plan = graph_planner.plan_for("show me Brand#13 products")
    assert plan.template == "category" and plan.param == "brand#13", plan
    return graph_planner.execute(spark, sf_dir, plan)


@register(
    "nl2plan_fuzzy_name",
    oracle=f"""
    WITH idx AS (
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS id, t.token
      FROM part, unnest({tk.lower_ws_tokens_sql("p_name")}) AS t(token)
      WHERE length(t.token) > 0),
    hits AS (
      SELECT id, MIN(levenshtein(token, 'widgit')) AS distance
      FROM idx
      WHERE length(token) BETWEEN 4 AND 8 AND levenshtein(token, 'widgit') <= 2
      GROUP BY id ORDER BY distance, id LIMIT 10)
    SELECT h.id AS sku, p.p_name AS name, p.p_retailprice AS price,
           CAST(h.distance AS INT) AS distance
    FROM hits h JOIN part p ON p.p_partkey = CAST(h.id AS BIGINT)
    ORDER BY distance, sku
    """,
)
def nl2plan_fuzzy_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 T1 — "a product named widgit" → fuzzy-name template
    (inverted index + levenshtein ≤ 2, LIMIT 10 — the Lucene `~` query
    at neo4j_service.py:71), then a join back for name/price per the
    prompt's projection rule."""
    plan = graph_planner.plan_for("a product named widgit")
    assert plan.template == "fuzzy_name" and plan.param == "widgit", plan
    return graph_planner.execute(spark, sf_dir, plan).withColumn(
        "distance", F.col("distance").cast("int")
    ).orderBy("distance", "sku")


@register(
    "agent_turn_check_order",
    oracle=f"""
    SELECT o.o_orderkey AS id,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           format('{{:,}}', {money_cents_sql("o.o_totalprice")} // 100)
             || '.' ||
             lpad(CAST({money_cents_sql("o.o_totalprice")} % 100 AS VARCHAR), 2, '0')
             AS total_str,
           string_agg(
             format('{{:d}}x {{:s}}', CAST(l.l_quantity AS INT), p.p_name),
             ', ' ORDER BY l.l_linenumber, CAST(l.l_quantity AS INT), p.p_name) AS items_str
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE o.o_custkey = 7
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY order_date DESC, id
    """,
)
def agent_turn_check_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 end-to-end slice — a full agent turn for the
    check_order_status route: deterministic router dispatch, then the
    reference's check_order node (agent_graph.py:320-372: user's
    orders newest-first, per-item product-name lookup joins, '2x NAME'
    string agg, strftime date + :,.2f money formatting). The N+1
    loop becomes two joins (items shuffle on order key, part dim
    broadcast) + one groupBy."""
    assert router.route("what is my order status") == "check_order_status"
    uid = 7
    o = catalog.load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") == uid)
    li = catalog.load_table(spark, sf_dir, "lineitem")
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("o_orderkey").alias("id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.format_number(money("o_totalprice"), 2).alias("total_str"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "l_linenumber",
                                F.col("l_quantity").cast("int").alias("l_quantity"),
                                "p_name",
                            )
                        )
                    ),
                    lambda s: F.format_string("%dx %s", s.l_quantity, s.p_name),
                ),
                ", ",
            ).alias("items_str")
        )
        .orderBy(F.col("order_date").desc(), "id")
    )


@register("nl2plan_broad_scan", oracle=PRODUCT_SCAN_ORACLE)
def nl2plan_broad_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 T3 — a question with no extractable noun → broad-scan
    template (project name/price, LIMIT 10 — neo4j_service.py:74)."""
    plan = graph_planner.plan_for("show me all of the")
    assert plan.template == "broad", plan
    return graph_planner.execute(spark, sf_dir, plan)
