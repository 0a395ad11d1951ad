"""Mutation-semantics queries (SURVEY.md §2.10 G1-G3, §2.11 M1-M5):
each applies a deterministic batch of mutations derived from the
testdata and returns the resulting table (or its delta), so the DuckDB
oracle can state the end-state declaratively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import money, money_sql, rate, rate_sql
from sales_agent_graphdb_spark.operators.merge import (
    delete_by_key,
    merge_create_only,
    merge_overwrite,
)
from sales_agent_graphdb_spark.registry import register


@register(
    "g1_merge_create_only",
    oracle="""
    SELECT p_partkey AS id, p_retailprice AS price FROM part
    UNION ALL
    SELECT p_partkey + 1000000 AS id, 1.0 AS price
    FROM part WHERE p_partkey < 100
    ORDER BY id
    """,
)
def g1_merge_create_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — batch MERGE ON CREATE SET (reference neo4j_service.py:113-146):
    a new batch overlaps all existing keys (existing rows must win,
    price unchanged) and adds shifted new keys (inserted at price 1.0)."""
    existing = catalog.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_retailprice").alias("price")
    )
    new = existing.filter(F.col("id") < 100).select(
        F.col("id"), F.lit(-99.0).alias("price")  # collides: must NOT overwrite
    )
    new = new.unionByName(
        existing.filter(F.col("id") < 100).select(
            (F.col("id") + 1000000).alias("id"), F.lit(1.0).alias("price")
        )
    )
    return merge_create_only(existing, new, "id").orderBy("id")


@register(
    "g2_merge_overwrite",
    oracle="""
    SELECT p_partkey AS id,
           CASE WHEN p_partkey < 100 THEN -99.0 ELSE p_retailprice END AS price
    FROM part ORDER BY id
    """,
)
def g2_merge_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G2 — admin sync MERGE with unconditional SET (reference
    neo4j_service.py:256-303): colliding keys take the new value."""
    existing = catalog.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_retailprice").alias("price")
    )
    new = existing.filter(F.col("id") < 100).select("id", F.lit(-99.0).alias("price"))
    return merge_overwrite(existing, new, "id").orderBy("id")


@register(
    "g3_detach_delete",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS sku, p_brand AS category_name
    FROM part WHERE p_partkey % 10 <> 0
    ORDER BY CAST(sku AS BIGINT)
    """,
)
def g3_detach_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G3 — DETACH DELETE by key (reference neo4j_service.py:305-323):
    remove every 10th product from the edge table (vertices and
    incident edges drop together in the bipartite schema)."""
    edges = catalog.in_category(spark, sf_dir)
    doomed = edges.filter(F.col("sku").cast("long") % 10 == 0).select("sku")
    return delete_by_key(edges, doomed, "sku").orderBy(F.col("sku").cast("long"))


@register(
    "m1_product_crud",
    oracle=f"""
    WITH after_update AS (
      SELECT p_partkey AS id, p_name AS name,
             CASE WHEN p_brand = 'Brand#7'
                  THEN CAST({money_sql("p_retailprice")} * {rate_sql("1.10")} AS DOUBLE)
                  ELSE p_retailprice END AS price
      FROM part WHERE p_partkey % 13 <> 0)
    SELECT id, name, price FROM after_update
    UNION ALL
    SELECT 9000001 AS id, 'new gadget alpha' AS name, 19.99 AS price
    UNION ALL
    SELECT 9000002 AS id, 'new gadget beta' AS name, 29.99 AS price
    ORDER BY id
    """,
)
def m1_product_crud(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 — product CRUD batch (reference db_service.py:89-128): delete
    ids %13==0, raise Brand#7 prices 10% (exact DECIMAL), insert two
    new products."""
    p = catalog.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("price"),
        F.col("p_brand").alias("brand"),
    )
    after_delete = p.filter(F.col("id") % 13 != 0)
    after_update = after_delete.select(
        "id",
        "name",
        F.when(
            F.col("brand") == "Brand#7",
            (money("price") * rate(F.lit(1.10))).cast("double"),
        )
        .otherwise(F.col("price"))
        .alias("price"),
    )
    inserts = spark.createDataFrame(
        [(9000001, "new gadget alpha", 19.99), (9000002, "new gadget beta", 29.99)],
        "id bigint, name string, price double",
    )
    return after_update.unionByName(inserts).orderBy("id")


@register(
    "m3_stock_decrement",
    oracle=f"""
    WITH demand AS (
      SELECT l_partkey, CAST(SUM({money_sql("l_quantity")}) AS DOUBLE) AS qty
      FROM lineitem WHERE l_orderkey < 100 GROUP BY l_partkey)
    SELECT p.p_partkey AS product_id, p.p_size AS stock_before,
           CAST(p.p_size - COALESCE(d.qty, 0) AS DOUBLE) AS stock_after,
           (p.p_size >= COALESCE(d.qty, 0)) AS fulfillable
    FROM part p LEFT JOIN demand d ON d.l_partkey = p.p_partkey
    ORDER BY product_id
    """,
)
def m3_stock_decrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 — order-placement stock decrement (reference orders.py:16-93):
    aggregate demand per product, decrement stock via one join — the
    set-oriented form of the reference's per-item UPDATE loop. Batch
    semantics: the whole batch sees one consistent before-state
    (documented batch-only, SURVEY.md §7)."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    p = catalog.load_table(spark, sf_dir, "part")
    demand = (
        li.filter(F.col("l_orderkey") < 100)
        .groupBy("l_partkey")
        .agg(F.sum(money("l_quantity")).cast("double").alias("qty"))
    )
    return (
        p.join(demand, p.p_partkey == demand.l_partkey, "left")
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_size").alias("stock_before"),
            (F.col("p_size") - F.coalesce("qty", F.lit(0.0))).cast("double").alias("stock_after"),
            (F.col("p_size") >= F.coalesce("qty", F.lit(0.0))).alias("fulfillable"),
        )
        .orderBy("product_id")
    )


@register(
    "m4_guarded_cancel",
    oracle="""
    SELECT o_orderkey AS id,
           CASE WHEN o_orderkey % 5 = 0
                     AND o_orderstatus IN ('O','P')
                THEN 'CANCELLED'
                ELSE CASE o_orderstatus WHEN 'O' THEN 'PENDING'
                     WHEN 'P' THEN 'PROCESSING' ELSE 'DELIVERED' END
           END AS status
    FROM orders ORDER BY id
    """,
)
def m4_guarded_cancel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 — guarded cancel (reference db_service.py:158-178): only
    PENDING/PROCESSING orders in the cancel-set flip to CANCELLED;
    everything else is untouched."""
    o = catalog.ref_orders(spark, sf_dir)
    eligible = (F.col("id") % 5 == 0) & F.col("status").isin("PENDING", "PROCESSING")
    return o.select(
        "id", F.when(eligible, "CANCELLED").otherwise(F.col("status")).alias("status")
    ).orderBy("id")


@register(
    "m5_register_unique",
    oracle="""
    SELECT c_custkey + 5000000 AS id, c_custkey || '@x.test' AS email
    FROM customer WHERE c_custkey % 2 = 1
    ORDER BY id
    """,
)
def m5_register_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5 — registration uniqueness guard (reference auth.py:25-42):
    a batch of candidate signups where even-custkey emails already
    exist (semi-join drops them) and odd ones insert."""
    existing = catalog.customers(spark, sf_dir)
    candidates = catalog.load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 5000000).alias("id"),
        F.concat(F.col("c_custkey").cast("string"), F.lit("@x.test")).alias("email"),
        (F.col("c_custkey") % 2).alias("parity"),
    )
    # even custkeys: pretend they're already registered (collide on the
    # synthesized email); odd: genuinely new
    collide = existing.select("email").filter(F.col("email").isNotNull())
    collide_even = collide.join(
        candidates.filter(F.col("parity") == 0).select("email"), "email", "left_semi"
    )
    inserted = candidates.join(collide_even, "email", "left_anti").filter(
        F.col("parity") == 1
    )
    return inserted.select("id", "email").orderBy("id")


@register(
    "m2_csv_upsert_preserve",
    oracle="""
    SELECT p_partkey AS id, p_name AS name, p_retailprice AS price, 'kept' AS provenance
    FROM part
    UNION ALL
    SELECT p_partkey + 2000000 AS id, 'import ' || p_name AS name, 0.01 AS price,
           'imported' AS provenance
    FROM part WHERE p_partkey < 50
    ORDER BY id
    """,
)
def m2_csv_upsert_preserve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — CSV→table upsert preserving existing rows (reference
    db_service.py:148-205, seed_products.py insert-if-missing): the
    import batch half-collides with existing ids (dropped) and
    half-inserts shifted ids."""
    existing = catalog.load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("name"),
        F.col("p_retailprice").alias("price"),
        F.lit("kept").alias("provenance"),
    )
    imported = catalog.load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 50)
    batch = imported.select(F.col("p_partkey").alias("id")).unionByName(
        imported.select((F.col("p_partkey") + 2000000).alias("id"))
    )
    batch = batch.join(
        imported.select(
            F.col("p_partkey").alias("src_id"),
            F.concat(F.lit("import "), F.col("p_name")).alias("name"),
        ),
        (F.col("id") % 2000000) == F.col("src_id"),
    ).select("id", "name", F.lit(0.01).alias("price"), F.lit("imported").alias("provenance"))
    return merge_create_only(existing, batch, "id").orderBy("id")


@register(
    "m6_scd2_history",
    oracle="""
    WITH off AS (
      SELECT ((MAX(c_custkey) // 1000000) + 1) * 1000000 AS o FROM customer),
    cur AS (
      SELECT c_custkey AS custkey, c_mktsegment AS mktsegment,
             CAST(c_acctbal AS DOUBLE) AS acctbal,
             '2024-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
      FROM customer),
    upd AS (
      SELECT c_custkey AS custkey,
             CASE WHEN c_custkey % 30 = 0 THEN c_mktsegment
                  ELSE 'MOVED' END AS mktsegment,
             CASE WHEN c_custkey % 30 = 0 THEN CAST(c_acctbal AS DOUBLE)
                  ELSE CAST(c_acctbal AS DOUBLE) + 100.0 END AS acctbal
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + off.o AS custkey, 'NEW' AS mktsegment,
             0.0 AS acctbal
      FROM customer, off WHERE c_custkey % 50 = 0),
    changed AS (
      SELECT u.custkey FROM upd u JOIN cur c USING (custkey)
      WHERE c.mktsegment IS DISTINCT FROM u.mktsegment
         OR c.acctbal IS DISTINCT FROM u.acctbal),
    inserts AS (
      SELECT u.custkey, u.mktsegment, u.acctbal FROM upd u
      WHERE u.custkey NOT IN (SELECT custkey FROM cur))
    SELECT custkey, mktsegment, acctbal, valid_from,
           CASE WHEN custkey IN (SELECT custkey FROM changed)
                THEN '2025-06-01' ELSE NULL END AS valid_to
    FROM cur
    UNION ALL
    SELECT custkey, mktsegment, acctbal, '2025-06-01' AS valid_from,
           CAST(NULL AS VARCHAR) AS valid_to
    FROM (SELECT u.custkey, u.mktsegment, u.acctbal FROM upd u
          WHERE u.custkey IN (SELECT custkey FROM changed)
          UNION ALL SELECT * FROM inserts) t
    ORDER BY custkey, valid_from
    """,
)
def m6_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 extension — Kimball SCD Type 2 dimension maintenance, the
    keep-history third member of the MERGE family (G1 create-only, G2
    overwrite, and now versioned history): one deterministic update
    batch against the customer dimension exercises all three SCD2
    branches — attribute change (every 10th key moves segment, +100
    balance: old version closed at the effective date, new open version
    appended), NO-OP (every 30th key re-sends identical values: no new
    version — the null-safe change predicate must detect equality), and
    brand-new keys (every 50th key, offset past the key range: plain
    insert — the offset is SF-RELATIVE, next-million above MAX(key),
    so dense custkeys can never collide with it at any scale). The
    oracle states the exact end-state history; one key-join + three
    codegen'd union legs, bucketable by the business key at 100 TB
    (operators/scd.py:scd2_apply)."""
    from sales_agent_graphdb_spark.operators.scd import scd2_apply

    c = catalog.load_table(spark, sf_dir, "customer")
    off = ((c.agg(F.max("c_custkey")).head()[0] // 1_000_000) + 1) * 1_000_000
    history = c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("mktsegment"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.lit("2024-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
    )
    tenth = c.filter(F.col("c_custkey") % 10 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_custkey") % 30 == 0, F.col("c_mktsegment"))
        .otherwise(F.lit("MOVED"))
        .alias("mktsegment"),
        F.when(
            F.col("c_custkey") % 30 == 0, F.col("c_acctbal").cast("double")
        )
        .otherwise(F.col("c_acctbal").cast("double") + F.lit(100.0))
        .alias("acctbal"),
    )
    fresh = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + F.lit(off)).alias("custkey"),
        F.lit("NEW").alias("mktsegment"),
        F.lit(0.0).alias("acctbal"),
    )
    updates = tenth.unionByName(fresh)
    return scd2_apply(
        history, updates, "custkey", ["mktsegment", "acctbal"], "2025-06-01"
    ).orderBy("custkey", "valid_from")


@register(
    "m7_table_diff",
    oracle="""
    WITH off AS (
      SELECT ((MAX(o_orderkey) // 10000000) + 1) * 10000000 AS o FROM orders),
    b AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10.0
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + off.o AS o_orderkey, 1.0 AS o_totalprice,
             'N' AS o_orderstatus
      FROM orders, off WHERE o_orderkey % 101 = 0)
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change,
           a.o_totalprice AS o_totalprice_old,
           b.o_totalprice AS o_totalprice_new,
           a.o_orderstatus AS o_orderstatus_old,
           b.o_orderstatus AS o_orderstatus_new
    FROM orders a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
       OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
    ORDER BY o_orderkey
    """,
)
def m7_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 extension — snapshot RECONCILIATION (table diff): classify
    every order key across two snapshots as added / removed / changed
    with old/new values — the validation primitive behind CDC backfill
    checks and migration sign-off (the reference's CSV-upsert flow,
    db_service.py's bulk import, has no way to AUDIT what an import
    did; this is that audit). Snapshot B is a deterministic mutation of
    orders (every 97th key deleted, every 13th repriced +10, every
    101st re-inserted at an SF-RELATIVE offset — next 10M above
    MAX(key), so dense orderkeys can never collide with the synthetic
    inserts at any scale) so all three classes are exercised and the
    oracle states the exact diff. One full-outer key join,
    change-volume-sized output (operators/merge.py:table_diff)."""
    from sales_agent_graphdb_spark.operators.merge import table_diff

    o = catalog.load_table(spark, sf_dir, "orders")
    off = ((o.agg(F.max("o_orderkey")).head()[0] // 10_000_000) + 1) * 10_000_000
    a = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    kept = a.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("o_totalprice") + F.lit(10.0)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    inserted = a.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + F.lit(off)).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit("N").alias("o_orderstatus"),
    )
    b = kept.unionByName(inserted)
    return table_diff(
        a, b, "o_orderkey", ["o_totalprice", "o_orderstatus"]
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# M8 — CDC batch apply: a change-data-capture log (I/U/D ops with
# sequence numbers, the Debezium/binlog shape) applied to the current
# table in ONE set-oriented pass. Per key only the LATEST op in the
# batch matters (row_number by seq desc), then: D drops the row, U
# overwrites it, I inserts it — a row-at-a-time replayer is the
# anti-pattern this operator replaces.
# ---------------------------------------------------------------------------


@register(
    "m8_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
      FROM orders WHERE o_orderkey % 10 < 7),
    log AS (
      SELECT o_orderkey AS k, 1 AS seq, 'U' AS op,
             o_totalprice * CAST(1.1 AS DOUBLE) AS price,
             o_orderstatus AS status
      FROM orders WHERE o_orderkey % 10 IN (1, 2)
      UNION ALL
      SELECT o_orderkey AS k, 2 AS seq, 'D' AS op,
             CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)
      FROM orders WHERE o_orderkey % 10 IN (2, 3)
      UNION ALL
      SELECT o_orderkey AS k, 1 AS seq, 'I' AS op,
             o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 IN (7, 8)),
    latest AS (
      SELECT k, op, price, status FROM (
        SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        FROM log) WHERE rn = 1),
    applied AS (
      SELECT b.k, COALESCE(l.price, b.price) AS price,
             COALESCE(l.status, b.status) AS status
      FROM base b LEFT JOIN latest l ON b.k = l.k
      WHERE l.op IS NULL OR l.op <> 'D'
      UNION ALL
      SELECT l.k, l.price, l.status FROM latest l
      LEFT JOIN base b ON b.k = l.k
      WHERE b.k IS NULL AND l.op IN ('I', 'U'))
    SELECT k, price, status FROM applied ORDER BY k
    """,
)
def m8_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8 — CDC batch apply (reference parity: the per-request
    INSERT/UPDATE/DELETE endpoints of the OLTP surface — products.py /
    db_service.py row mutations — replayed as ONE set-oriented merge
    of the accumulated change log, the shape a warehouse applies a
    binlog/Debezium batch with). Log derived deterministically from
    orders: updates (+10% price) for keys %10∈{1,2}, later deletes for
    {2,3} (so key%10==2 exercises update-then-delete sequencing),
    inserts for {7,8} (7 new, 8 new — base holds %10<7).

    Shape: latest-op-per-key via a window partitioned by key (never
    global), one left join + anti join against the base, no
    row-at-a-time replay. At 100 TB both sides shuffle once on the
    key; with the base bucketed by key (sources/bucketing.py) the
    apply is exchange-free. Sequencing correctness (update THEN
    delete = gone; the reverse would resurrect) is exactly what the
    oracle hash certifies."""
    o = catalog.load_table(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 10 < 7).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    upd = o.filter((F.col("o_orderkey") % 10).isin(1, 2)).select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("U").alias("op"),
        (F.col("o_totalprice") * F.lit(1.1)).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    dele = o.filter((F.col("o_orderkey") % 10).isin(2, 3)).select(
        F.col("o_orderkey").alias("k"),
        F.lit(2).alias("seq"),
        F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("price"),
        F.lit(None).cast("string").alias("status"),
    )
    ins = o.filter((F.col("o_orderkey") % 10).isin(7, 8)).select(
        F.col("o_orderkey").alias("k"),
        F.lit(1).alias("seq"),
        F.lit("I").alias("op"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    log = upd.unionByName(dele).unionByName(ins)

    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("k").orderBy(F.col("seq").desc()))
    latest = (
        log.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("k", "op", F.col("price").alias("l_price"), F.col("status").alias("l_status"))
    )
    survivors = (
        base.join(latest, "k", "left")
        .filter(F.col("op").isNull() | (F.col("op") != "D"))
        .select(
            "k",
            F.coalesce(F.col("l_price"), F.col("price")).alias("price"),
            F.coalesce(F.col("l_status"), F.col("status")).alias("status"),
        )
    )
    inserts = (
        latest.filter(F.col("op").isin("I", "U"))
        .join(base.select("k"), "k", "left_anti")
        .select("k", F.col("l_price").alias("price"), F.col("l_status").alias("status"))
    )
    return survivors.unionByName(inserts).orderBy("k")


@register(
    "m9_dynamic_partition_overwrite",
    oracle=f"""
    WITH rewritten AS (
      SELECT l_extendedprice, l_discount,
             strftime(l_shipdate, '%Y-%m') AS ship_month,
             CASE WHEN strftime(l_shipdate, '%Y-%m') = '1996-07'
                  THEN CAST(ROUND({money_sql("l_extendedprice")}
                                  * CAST(0.9 AS DECIMAL(2,1)), 2) AS DOUBLE)
                  ELSE l_extendedprice END AS price_eff
      FROM lineitem)
    SELECT ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({money_sql("price_eff")}) AS DOUBLE) AS revenue
    FROM rewritten
    WHERE ship_month IN ('1996-06', '1996-07', '1996-08')
    GROUP BY ship_month ORDER BY ship_month
    """,
)
def m9_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9 — DYNAMIC partition overwrite (the write's own
    partitionOverwriteMode=dynamic option): restate ONE month of the
    hive-partitioned lineitem layout (a 10% price correction to
    1996-07) with mode('overwrite').partitionBy(...) — Spark replaces
    ONLY the partitions present in the written frame; every other
    month's files are untouched (the restatement write path of a
    date-partitioned 100 TB fact: correcting a day never rewrites the
    table; STATIC overwrite mode would truncate it). The query reads
    the corrected month and its two untouched neighbors back from the
    layout; the oracle recomputes all three from the ORIGINAL
    lineitem, so the hash certifies both the correction (1996-07) and
    the non-damage (1996-06/08). The mode is set per write, never on
    the session, so concurrent queries in the session keep their own
    mode. The layout is m9's OWN stamped copy (lineitem_by_month_m9) —
    mutating the shared DPP layout would silently corrupt
    dpp_partition_pruned's oracle."""
    from sales_agent_graphdb_spark.queries.sources_io import _scratch
    from sales_agent_graphdb_spark.sources import stamp

    src_path = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    root = _scratch(sf_dir, "lineitem_by_month_m9")
    li = catalog.load_table(spark, sf_dir, "lineitem")
    month = F.date_format("l_shipdate", "yyyy-MM")
    stamp.ensure(
        root,
        src_path,
        "",
        lambda: (
            li.select(
                "l_extendedprice",
                "l_discount",
                "l_quantity",
                month.alias("ship_month"),
            )
            .repartition(F.col("ship_month"))
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(root)
        ),
    )
    # Re-derive the corrected month from the SOURCE table (idempotent:
    # rerunning overwrites the same partition with the same rows).
    # Price math stays in exact DECIMAL end-to-end: (18,2) × (2,1)
    # literal → exact product, rounded to 2 dp in DECIMAL (HALF_UP on
    # positives in both engines) — a double detour here would drift at
    # .xx5 boundaries.
    corrected = (
        li.filter(month == "1996-07")
        .select(
            F.round(
                money("l_extendedprice")
                * F.lit("0.9").cast("decimal(2,1)"),
                2,
            )
            .cast("double")
            .alias("l_extendedprice"),
            "l_discount",
            "l_quantity",
            month.alias("ship_month"),
        )
        .repartition(F.col("ship_month"))
    )
    (
        corrected.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ship_month")
        .parquet(root)
    )
    back = catalog.read_parquet(spark, root).filter(
        F.col("ship_month").isin("1996-06", "1996-07", "1996-08")
    )
    return (
        back.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
        )
        .orderBy("ship_month")
    )


_FORGET_MOD = 23  # the erasure request: every 23rd user


@register(
    "m10_forget_user_cascade",
    oracle=f"""
    WITH doomed AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % {_FORGET_MOD} = 0),
    ev AS (
      SELECT 'events' AS tbl,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM events e
              WHERE EXISTS (SELECT 1 FROM doomed d
                            WHERE d.user_id = e.user_id)) AS n_deleted),
    od AS (
      SELECT 'orders' AS tbl,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
              WHERE EXISTS (SELECT 1 FROM doomed d
                            WHERE d.user_id = o.o_custkey)) AS n_deleted),
    li AS (
      SELECT 'lineitem' AS tbl,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_before,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
              WHERE EXISTS (SELECT 1 FROM orders o
                            JOIN doomed d ON d.user_id = o.o_custkey
                            WHERE o.o_orderkey = l.l_orderkey)) AS n_deleted)
    SELECT tbl, n_before, n_deleted, n_before - n_deleted AS n_after
    FROM (SELECT * FROM ev UNION ALL SELECT * FROM od
          UNION ALL SELECT * FROM li)
    ORDER BY tbl
    """,
)
def m10_forget_user_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN cascade (M-ext) — the erasure operation a
    training-data pipeline must support end-to-end: a user-id erasure
    set propagates through every table that references the subject,
    DIRECTLY (events.user_id, orders.o_custkey via LEFT SEMI against
    the doomed set) and TRANSITIVELY (lineitem through its order's
    customer — one hop across the FK edge dq_referential_integrity
    audits). Emits the per-table before / deleted / after counts —
    the erasure receipt a DPO files. Deterministic erasure set
    (user_id % {mod}).

    Scale: the doomed set broadcasts (erasure requests are tiny); the
    transitive hop is a semi-join chain, never a row-by-row delete —
    at 100 TB this plus m9's dynamic partition overwrite IS the
    deletion implementation (filter-and-rewrite touched partitions),
    and the snapshot layer (s17) is what makes it auditable."""
    ev = catalog.load_table(spark, sf_dir, "events")
    o = catalog.load_table(spark, sf_dir, "orders")
    li = catalog.load_table(spark, sf_dir, "lineitem")
    doomed = (
        ev.filter(F.col("user_id") % _FORGET_MOD == 0)
        .select("user_id")
        .distinct()
    )
    ev_del = ev.join(F.broadcast(doomed), "user_id", "left_semi")
    o_del = o.join(
        F.broadcast(doomed), o.o_custkey == doomed.user_id, "left_semi"
    )
    li_del = li.join(
        o_del.select("o_orderkey"),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    )

    def row(name, full, deleted):
        return (
            full.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(
                F.broadcast(deleted.agg(F.count(F.lit(1)).alias("n_deleted")))
            )
            .select(
                F.lit(name).alias("tbl"),
                "n_before",
                "n_deleted",
                (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
            )
        )

    return (
        row("events", ev, ev_del)
        .unionByName(row("lineitem", li, li_del))
        .unionByName(row("orders", o, o_del))
        .orderBy("tbl")
    )


m10_forget_user_cascade.__doc__ = m10_forget_user_cascade.__doc__.format(
    mod=_FORGET_MOD
)
