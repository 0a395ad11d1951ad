"""Join inventory (SURVEY.md §2.3): the reference's graph traversals,
FK joins, and N+1 Python loops re-expressed as set-oriented Spark
joins — broadcast for small dims, sort-merge/shuffle-hash picked by
Catalyst + AQE for fact-to-fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import money, money_sql
from sales_agent_graphdb_spark.registry import register


@register(
    "j1_one_hop_traversal",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS sku, p_name AS name,
           p_brand AS category_name, p_retailprice AS price
    FROM part ORDER BY p_partkey
    """,
)
def j1_one_hop_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — `MATCH (p:Product)-[:IN_CATEGORY]->(c:Category)` 1-hop
    traversal (reference neo4j_products.py:36-40) as product ⋈ edge ⋈
    category. Both dims are broadcast: zero shuffle at any scale where
    the category dim stays small (it's `distinct p_brand`)."""
    prods = catalog.products(spark, sf_dir)
    edges = catalog.in_category(spark, sf_dir)
    cats = catalog.categories(spark, sf_dir)
    return (
        prods.join(F.broadcast(edges), "sku")
        .join(F.broadcast(cats), "category_name")
        .select("sku", "name", "category_name", "price")
        .orderBy(F.col("sku").cast("long"))
    )


@register(
    "p8_graph_category_filter",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS sku, p_name AS name, p_brand AS category_name
    FROM part WHERE lower(p_brand) LIKE lower('%rand#2%')
    ORDER BY p_partkey
    """,
)
def p8_graph_category_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — `WHERE toLower(c.name) CONTAINS toLower($kw)` after the
    1-hop (reference neo4j_service.py:72)."""
    prods = catalog.products(spark, sf_dir)
    edges = catalog.in_category(spark, sf_dir)
    return (
        prods.join(F.broadcast(edges), "sku")
        .filter(F.lower(F.col("category_name")).contains("rand#2"))
        .select("sku", "name", "category_name")
        .orderBy(F.col("sku").cast("long"))
    )


@register(
    "j2_order_items_nested",
    oracle="""
    WITH items AS (
      SELECT l_orderkey,
             CAST(to_json(list_sort(list(
               {'line_no': l_linenumber, 'sku': CAST(l_partkey AS VARCHAR),
                'quantity': l_quantity, 'ext_price': l_extendedprice}
             ))) AS VARCHAR) AS items
      FROM lineitem GROUP BY l_orderkey)
    SELECT o.o_orderkey AS id, o.o_custkey AS customer_id,
           CASE WHEN o.o_orderstatus = 'O' THEN 'PENDING'
                WHEN o.o_orderstatus = 'P' THEN 'PROCESSING'
                WHEN o.o_orderstatus = 'F' THEN 'DELIVERED'
                ELSE 'PENDING' END AS status,
           o.o_totalprice AS total_amount,
           i.items
    FROM orders o JOIN items i ON i.l_orderkey = o.o_orderkey
    """,
)
def j2_order_items_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — orders ⋈ order_items eagerly nested into Order→items
    (reference db_service.py:131-134 `joinedload`): one shuffle on
    order_id, `collect_list(struct(...))` builds ArrayType(StructType).

    The nested array<struct> is built internally (that is the operator
    being demonstrated); the returned frame projects it through
    ``to_json``, which since r03 is directly oracle-checked: both
    engines render struct JSON with declaration-ordered keys, no
    whitespace, and shortest-repr doubles, and ``sort_array`` /
    ``list_sort`` both compare structs field-by-field in declaration
    order (line_no is unique per order, so the sort is total). The
    strform twin below remains as the formatting-independent check."""
    o = catalog.ref_orders(spark, sf_dir)
    it = catalog.order_items(spark, sf_dir)
    nested = it.groupBy("order_id").agg(
        F.sort_array(
            F.collect_list(F.struct("line_no", "sku", "quantity", "ext_price"))
        ).alias("items")
    )
    return o.join(nested, o.id == nested.order_id).select(
        "id", "customer_id", "status", "total_amount", F.to_json("items").alias("items")
    )


@register(
    "j2_order_nest_strform",
    oracle="""
    SELECT o.o_orderkey AS id,
           string_agg(
             CAST(l.l_linenumber AS VARCHAR) || 'x sku ' || CAST(l.l_partkey AS VARCHAR),
             ', ' ORDER BY l.l_linenumber, l.l_partkey) AS items_str
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey
    ORDER BY id
    """,
)
def j2_order_nest_strform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2/A6 oracle-checkable form — the nested items rendered as a
    deterministic ordered string (reference agent_graph.py:345-357
    '2x NAME, ...' formatting)."""
    o = catalog.load_table(spark, sf_dir, "orders")
    li = catalog.load_table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderkey").alias("id"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
                    lambda s: F.format_string("%dx sku %d", s.l_linenumber, s.l_partkey),
                ),
                ", ",
            ).alias("items_str")
        )
        .orderBy("id")
    )


@register(
    "j3_lookup_join",
    oracle="""
    SELECT l.l_orderkey AS order_id, l.l_linenumber AS line_no,
           CAST(l.l_partkey AS VARCHAR) AS sku, p.p_name AS name
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    ORDER BY order_id, line_no
    """,
)
def j3_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — the reference's N+1 per-item `get_product_by_sku` loop
    (agent_graph.py:345-351) collapsed into ONE broadcast left join:
    O(n) network round-trips become zero."""
    it = catalog.order_items(spark, sf_dir)
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        it.join(F.broadcast(p), it.product_id == p.p_partkey, "left")
        .select("order_id", "line_no", "sku", F.col("p_name").alias("name"))
        .orderBy("order_id", "line_no")
    )


@register(
    "j4_validation_join",
    oracle="""
    SELECT l.l_orderkey AS order_id, l.l_partkey AS product_id,
           CAST(l.l_quantity AS DOUBLE) AS requested,
           p.p_size AS stock_quantity,
           (p.p_size >= l.l_quantity) AS sufficient
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_orderkey < 50
    ORDER BY order_id, product_id, requested
    """,
)
def j4_validation_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — per-item stock validation (reference orders.py:34-43):
    requested quantity vs available stock, flagged not filtered so the
    caller can report which items fail."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    p = catalog.load_table(spark, sf_dir, "part")
    return (
        li.filter(F.col("l_orderkey") < 50)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .select(
            F.col("l_orderkey").alias("order_id"),
            F.col("l_partkey").alias("product_id"),
            F.col("l_quantity").cast("double").alias("requested"),
            F.col("p_size").alias("stock_quantity"),
            (F.col("p_size") >= F.col("l_quantity")).alias("sufficient"),
        )
        .orderBy("order_id", "product_id", "requested")
    )


@register(
    "j5_customer_orders",
    oracle=f"""
    SELECT c.c_custkey AS id, c.c_name AS full_name,
           COUNT(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM({money_sql("o.o_totalprice")}), 0) AS DOUBLE) AS lifetime_value
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY id, full_name
    ORDER BY id
    """,
)
def j5_customer_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 — customer → their orders (reference Customers.jsx:44-67
    client-side hash join) as a left join + aggregate."""
    c = catalog.load_table(spark, sf_dir, "customer")
    o = catalog.load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(F.col("c_custkey").alias("id"), F.col("c_name").alias("full_name"))
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(money("o_totalprice")), money(F.lit(0)))
            .cast("double")
            .alias("lifetime_value"),
        )
        .orderBy("id")
    )


@register(
    "j6_semi_join_exists",
    oracle="""
    SELECT c_custkey AS id, c_custkey || '@x.test' AS email
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY id
    """,
)
def j6_semi_join_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6 — existence check ('email already registered',
    reference auth.py:27-29) as a left-semi join."""
    c = catalog.customers(spark, sf_dir)
    o = catalog.load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.id == o.o_custkey, "left_semi")
        .select("id", "email")
        .orderBy("id")
    )


@register(
    "j7_anti_join",
    oracle="""
    SELECT c_custkey AS id, c_name AS full_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    ORDER BY id
    """,
)
def j7_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 — delete-by-key / not-exists (reference neo4j_service.py:305-323
    DETACH DELETE) as a left-anti join: customers with no urgent order
    (non-empty at every sf, unlike no-orders-at-all)."""
    c = catalog.load_table(spark, sf_dir, "customer")
    o = catalog.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.col("c_custkey").alias("id"), F.col("c_name").alias("full_name"))
        .orderBy("id")
    )
