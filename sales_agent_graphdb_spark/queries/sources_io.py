"""Source/sink roundtrip queries (SURVEY.md §2.1, S1–S4).

Each query derives a deterministic dataset from the parquet testdata,
writes it through a sink connector, reads it back through the matching
source connector (dialect translation included), and returns the
normalized rows — so the DuckDB oracle, written over the original
parquet views, passes only if schema mapping, typing, and value
fidelity survive the full write→read cycle. Scratch files live under
``SCRATCH``, the checkout's ``.scratch`` directory (gitignored).
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import (
    dec6,
    dec6_sql,
    money,
    money_sql,
    rate,
    rate_sql,
)
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize
from sales_agent_graphdb_spark.sources import connectors

# r13 (guide §5 — keep one-time setup off the query path): importing
# the api_source module here, at registry-load time, pays its
# module-level pyarrow import once during program setup instead of
# inside the FIRST timed s15/s8 query line (measured ~2 s of
# driver-side import landing on s15's bench line). The function-scope
# imports below then resolve instantly from sys.modules.
from sales_agent_graphdb_spark.sources import api_source as _api_source  # noqa: F401

# The engine's one scratch root: every scratch directory it writes
# (stamped layouts, sink round-trips, streaming sources and checkpoints)
# is built from this string at call time, so redirecting it moves them all.
SCRATCH = str(Path(__file__).resolve().parents[2] / ".scratch")


def _scratch(sf_dir: str, name: str) -> str:
    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    return os.path.join(SCRATCH, tag, name)


@register(
    "s1_s2_csv_roundtrip_scraper_dialect",
    oracle="""
    SELECT CAST(p_partkey AS VARCHAR) AS sku, p_name AS name,
           p_brand AS category, p_retailprice AS price
    FROM part WHERE p_partkey <= 200
    ORDER BY CAST(sku AS BIGINT)
    """,
)
def s1_s2_csv_roundtrip_scraper_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2 — products → scraper-dialect CSV sink → scraper-dialect
    source (rename map ``product_name/category_name/url`` →
    ``name/category/product_url``, the dual-dialect surface at
    reference product_scraper.py:223 vs seed_products.py:30-34).
    Doubles survive bit-exactly: the CSV writer emits shortest
    round-trip decimal strings."""
    prods = catalog.products(spark, sf_dir).filter(F.col("id") <= 200).select(
        "id",
        "sku",
        "name",
        "category",
        "description",
        "price",
        "stock_quantity",
        F.lit(None).cast("string").alias("image_url"),
        F.concat(F.lit("https://x.test/p/"), F.col("sku")).alias("product_url"),
    )
    path = _scratch(sf_dir, "csv_scraper")
    connectors.write_scraper_csv(prods, path)
    back = connectors.read_scraper_csv(spark, path)
    return back.select("sku", "name", "category", "price").orderBy(
        F.col("sku").cast("bigint")
    )


@register(
    "s1_s2_csv_roundtrip_golden_dialect",
    oracle="""
    SELECT p_partkey AS id, CAST(p_partkey AS VARCHAR) AS sku, p_name AS name,
           p_retailprice AS price, p_size AS stock_quantity
    FROM part WHERE p_partkey <= 200
    ORDER BY id
    """,
)
def s1_s2_csv_roundtrip_golden_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+S2 — golden-copy CSV dialect roundtrip (the products.csv
    header read by neo4j_service.py:135-140), typed schema-on-read
    (id long, price double, stock int — reference casts at
    neo4j_service.py:123,274 happen here in the schema instead)."""
    prods = catalog.products(spark, sf_dir).filter(F.col("id") <= 200).select(
        "id",
        "sku",
        "name",
        "category",
        "description",
        "price",
        "stock_quantity",
        F.lit(None).cast("string").alias("image_url"),
        F.lit(None).cast("string").alias("product_url"),
    )
    path = _scratch(sf_dir, "csv_golden")
    connectors.write_products_csv(prods, path)
    back = connectors.read_products_csv(spark, path)
    return back.select("id", "sku", "name", "price", "stock_quantity").orderBy("id")


@register(
    "s3_s4_json_envelope_roundtrip",
    oracle="""
    SELECT 'post_' || CAST(doc_id AS VARCHAR) AS post_id, text, source,
           CAST(n_chars AS BIGINT) AS likes_count
    FROM documents WHERE doc_id < 100
    ORDER BY CAST(doc_id AS BIGINT)
    """,
)
def s3_s4_json_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+S4 — documents → scraper-envelope JSON sink → envelope source
    (unwrap ``data`` + explode, db_service.py:413-416). The envelope
    fields (timestamp/source_url/posts_scraped) are written and then
    stripped by the unwrap, exactly like the reference's
    ``obj.get("data", [])``."""
    posts = catalog.load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 100
    ).select(
        F.concat(F.lit("post_"), F.col("doc_id").cast("string")).alias("post_id"),
        "text",
        "source",
        F.col("n_chars").cast("long").alias("likes_count"),
    )
    path = _scratch(sf_dir, "json_envelope")
    connectors.write_scraper_json(posts, path, source_url="https://x.test/feed")
    back = connectors.read_scraper_json(spark, path)
    return back.orderBy(F.regexp_extract("post_id", r"(\d+)", 1).cast("bigint"))


@register(
    "s9b_orc_roundtrip",
    oracle=f"""
    SELECT l_returnflag AS returnflag, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({money_sql("l_quantity")}) AS DOUBLE) AS sum_qty,
           CAST(MIN(l_shipdate) AS VARCHAR) AS min_shipdate
    FROM lineitem WHERE l_orderkey <= 1000
    GROUP BY l_returnflag ORDER BY returnflag
    """,
)
def s9b_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 extension — columnar-format breadth beyond parquet: lineitem
    subset → ORC sink partitioned by l_returnflag (predicate-prunable
    layout, same as a production ORC lake) → ORC source → exact-DECIMAL
    aggregate. The oracle runs over the ORIGINAL parquet, so it passes
    only if types (double, timestamp, partition-column string) survive
    the ORC write→read cycle bit-for-bit. ORC is the second Spark-
    native columnar format; at 100 TB the same partitioned-write /
    pruned-read pattern applies unchanged."""
    li = catalog.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 1000
    )
    path = _scratch(sf_dir, "orc_lineitem")
    (
        li.select("l_orderkey", "l_quantity", "l_shipdate", "l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .orc(path)
    )
    back = spark.read.orc(path)
    return (
        back.groupBy(F.col("l_returnflag").alias("returnflag"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("l_quantity")).cast("double").alias("sum_qty"),
            F.min("l_shipdate").cast("string").alias("min_shipdate"),
        )
        .orderBy("returnflag")
    )


@register(
    "s9c_schema_evolution",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total
    FROM (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderkey <= 500 THEN NULL ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey <= 1000) t
    GROUP BY status ORDER BY status NULLS FIRST
    """,
)
def s9c_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 extension — schema evolution across parquet batches, the
    standard lake lifecycle: an early batch written WITHOUT a column,
    a later batch WITH it, both under one table root, read back with
    ``mergeSchema`` so the union schema applies and pre-evolution rows
    surface NULL for the added column. The oracle reconstructs the
    same union from the original table, so the evolved read must
    preserve every row, type, and NULL placement. At 100 TB this is
    how new telemetry columns roll into a landed dataset without
    rewriting history (schema merging is scan-time metadata only)."""
    o = catalog.load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 1000)
    root = _scratch(sf_dir, "schema_evolution")
    (
        o.filter(F.col("o_orderkey") <= 500)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(f"{root}/batch=1")
    )
    (
        o.filter(F.col("o_orderkey") > 500)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .write.mode("overwrite")
        .parquet(f"{root}/batch=2")
    )
    back = spark.read.option("mergeSchema", "true").parquet(root)
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("o_totalprice")).cast("double").alias("total"),
        )
        .orderBy(F.col("status").asc_nulls_first())
    )


@register(
    "s10_sorted_scan_pruning",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({money_sql("l_extendedprice")}) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    """,
)
def s10_sorted_scan_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 extension — SORTED DATA LAYOUT for scan skipping: lineitem
    is rewritten range-partitioned + sorted by l_shipdate (the
    cluster-by-time layout a 100 TB fact table ships with), then a
    one-year range filter reads it back. Because each file/row-group
    now covers a narrow l_shipdate band, the pushed-down predicate
    (PushedFilters on the scan) lets parquet skip whole row groups via
    min/max footer stats — the I/O-level pruning that partitioning
    gives only at directory granularity. The oracle is the same agg on
    the original table, so the hash certifies the rewrite+skip path
    loses no rows. Layout write is SF-stamped and reused (ingest-side
    cost, amortized over every query — the ANN-index pattern)."""
    from sales_agent_graphdb_spark.sources import stamp

    li = catalog.load_table(spark, sf_dir, "lineitem")
    root = _scratch(sf_dir, "lineitem_by_shipdate")
    src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    stamp.ensure(
        root,
        src,
        "",
        lambda: (
            li.repartitionByRange(8, F.col("l_shipdate"))
            .sortWithinPartitions("l_shipdate")
            .write.mode("overwrite")
            .parquet(root)
        ),
    )
    back = catalog.read_parquet(spark, root)
    year = back.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return year.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
    )


@register(
    "s11_xml_roundtrip",
    oracle=f"""
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS total,
           CAST(MIN(o_orderdate) AS VARCHAR) AS min_orderdate
    FROM orders WHERE o_orderkey <= 1000
    GROUP BY o_orderstatus ORDER BY status
    """,
)
def s11_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — XML source + sink (Spark 4's built-in
    native XML data source): orders subset → XML sink (one <order>
    element per row under <orders>) → XML source with an EXPLICIT
    schema (inference off: at 100 TB schema inference is a second full
    scan, and the production contract is a declared schema) → the
    exact-DECIMAL aggregate. The oracle runs over the ORIGINAL
    parquet, so the hash passes only if long / double / timestamp /
    string survive the XML write→parse cycle exactly. Completes the
    interchange-format family next to CSV (s1/s2), JSON envelope
    (s3/s4), parquet/ORC (s9) — XML is the remaining feed format real
    catalog/ERP integrations ship."""
    o = catalog.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 1000
    )
    path = _scratch(sf_dir, "xml_orders")
    (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "orders")
        .option("rowTag", "order")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(
            "o_orderkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp"
        )
        .load(path)
    )
    return (
        back.groupBy(F.col("o_orderstatus").alias("status"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(money("o_totalprice")).cast("double").alias("total"),
            F.min("o_orderdate").cast("string").alias("min_orderdate"),
        )
        .orderBy("status")
    )


@register(
    "s12_zorder_pruning",
    oracle=f"""
    WITH b AS (
      SELECT MAX(l_partkey) // 5 AS p_lo, (MAX(l_partkey) * 3) // 10 AS p_hi,
             MAX(l_suppkey) // 5 AS s_lo, (MAX(l_suppkey) * 3) // 10 AS s_hi
      FROM lineitem)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({money_sql("l_extendedprice")}) AS DOUBLE) AS revenue
    FROM lineitem, b
    WHERE l_partkey >= b.p_lo AND l_partkey < b.p_hi
      AND l_suppkey >= b.s_lo AND l_suppkey < b.s_hi
    """,
)
def s12_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 extension — Z-ORDER LAYOUT for MULTI-column data skipping:
    s10 clusters by one column; here lineitem is rewritten sorted by
    the Morton interleave of (l_partkey, l_suppkey)
    (operators/zorder.py — a codegen'd bit-interleave projection, the
    technique behind Delta's OPTIMIZE ZORDER BY), so each row group
    covers a small BOX in (partkey, suppkey) space and parquet min/max
    stats skip row groups for filters on EITHER key or both — a 1-D
    partkey sort would leave suppkey shuffled through every row group.
    The read-back applies a 2-D box filter (both predicates pushed to
    the scan) and the oracle runs the same exact-DECIMAL agg on the
    ORIGINAL table, certifying the rewrite+skip path loses no rows.
    Layout write is SF-stamped and reused (ingest-side, amortized —
    the ANN-index pattern); tests/test_plans.py probes PushedFilters
    and the footer-stat box-coverage property on both dimensions."""
    import json as _json

    from sales_agent_graphdb_spark.operators.zorder import zvalue_scaled
    from sales_agent_graphdb_spark.sources import stamp

    li = catalog.load_table(spark, sf_dir, "lineitem")
    root = _scratch(sf_dir, "lineitem_zorder")
    src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    _Z_RECIPE = "zorder-scaled8-v1"  # bump when the layout formula changes
    # The maxes feed the z normalization and the SF-relative box. The
    # MAX agg is a two-column scan (Spark does not push MAX to parquet
    # footer stats for DSv1 scans), so it is paid ONCE per layout build
    # and persisted in a sidecar next to the stamp; warm calls read two
    # ints instead of rescanning the fact table.
    meta_path = os.path.join(root, "_MAXES.json")
    holder: dict = {}

    def _maxes_valid() -> bool:
        try:
            with open(meta_path) as f:
                holder["mx"] = _json.load(f)
            return True
        except (OSError, ValueError):
            return False  # corrupt/missing sidecar -> locked rebuild

    def _build_zorder() -> None:
        row = li.agg(
            F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
        ).head()
        mx = {"mp": row.mp, "ms": row.ms}
        (
            li.withColumn(
                "_z",
                zvalue_scaled(
                    F.col("l_partkey"), F.col("l_suppkey"), mx["mp"], mx["ms"]
                ),
            )
            .repartitionByRange(8, F.col("_z"))
            .sortWithinPartitions("_z")
            .drop("_z")
            .write.mode("overwrite")
            .parquet(root)
        )
        with open(meta_path, "w") as f:
            _json.dump(mx, f)
        holder["mx"] = mx

    stamp.ensure(root, src, _Z_RECIPE, _build_zorder, valid=_maxes_valid)
    mx = holder["mx"]
    back = catalog.read_parquet(spark, root)
    # SF-relative box (20%-30% of each key range, integer arithmetic
    # identical to the oracle's) so the check is non-vacuous at every
    # scale.
    p_lo, p_hi = mx["mp"] // 5, (mx["mp"] * 3) // 10
    s_lo, s_hi = mx["ms"] // 5, (mx["ms"] * 3) // 10
    box = back.filter(
        (F.col("l_partkey") >= p_lo)
        & (F.col("l_partkey") < p_hi)
        & (F.col("l_suppkey") >= s_lo)
        & (F.col("l_suppkey") < s_hi)
    )
    return box.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
    )


# The plain part-table aggregate that the batch and the streaming API
# ingest must both reconstruct.
_API_INGEST_ORACLE = f"""
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_products,
           CAST(SUM({money_sql("p_retailprice")}) AS DOUBLE) AS total_price
    FROM part GROUP BY brand ORDER BY brand
    """


@register("s8_api_source_ingest", oracle=_API_INGEST_ORACLE)
def s8_api_source_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — external API ingest as a PLUGGABLE SOURCE (reference
    scraper_service.py: HTTP fetch → parse → insert, driver-side).
    Spark-first form: a Python DataSource V2 format (`product_api`,
    sources/api_source.py) whose reader maps API pagination to
    InputPartitions — pages are fetched in parallel ON EXECUTORS and
    parsed into Arrow RecordBatches with an explicit schema, entering
    the plan as a normal scan (no driver loop, no landing table). The
    endpoint is simulated by paged JSON-lines files derived from the
    part table (no network in this container; a real deployment swaps
    the page-open for the HTTP GET). The oracle is the plain part-table
    aggregate: the page write → paginated parallel read cycle must
    preserve every row and every double bit (JSON shortest-repr
    roundtrip)."""
    from sales_agent_graphdb_spark.sources.api_source import (
        ensure_api_pages,
        register_api_source,
    )

    endpoint = ensure_api_pages(spark, sf_dir)
    register_api_source(spark)
    api = spark.read.format("product_api").option("endpoint", endpoint).load()
    return (
        api.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_products"),
            F.sum(money("p_retailprice")).cast("double").alias("total_price"),
        )
        .orderBy("brand")
    )


# ---------------------------------------------------------------------------
# Small-files compaction — the table-maintenance operator every
# long-lived partitioned table needs: streaming/incremental ingestion
# leaves each day-partition fragmented into many small files; the
# compactor rewrites each partition into one right-sized file WITHOUT
# changing a row. The oracle certifies the losslessness contract (the
# compacted table aggregates bit-identically to the source); the file-
# count collapse itself is asserted on the filesystem in
# tests/test_round5_ops.py.
# ---------------------------------------------------------------------------

_FRAG_FILES = 8  # files per day-partition in the fragmented layout


@register(
    "s13_compact_small_files",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(event_id) AS BIGINT) AS min_event_id,
           CAST(MAX(event_id) AS BIGINT) AS max_event_id,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM events
    GROUP BY day ORDER BY day
    """,
)
def s13_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction: events written day-partitioned with 8 small files
    per partition (the fragmented state incremental ingestion leaves),
    then rewritten with one task per day — `repartition("day")` hashes
    every row of a day to the same task, so each partition directory
    collapses to exactly ONE file. The returned per-day aggregate over
    the COMPACTED table matches the oracle's aggregate over the
    ORIGINAL table bit-for-bit (exact-DECIMAL value sums): compaction
    moved bytes, not data.

    Scale: this is the nightly OPTIMIZE job shape — one shuffle keyed
    on the partition column, write amplification 1x (each row moves
    once), and at 100 TB the single-file-per-partition target becomes
    `repartitionByRange(n, day, ...)` with a row-count target per file;
    the stamp protocol (sources/stamp.py) keeps the rewrite amortized
    across queries exactly like the ANN index builds."""
    from sales_agent_graphdb_spark.sources import stamp

    ev = catalog.load_table(spark, sf_dir, "events")
    src = f"{sf_dir.rstrip('/')}/events.parquet"
    frag = _scratch(sf_dir, "events_fragmented")
    compact = _scratch(sf_dir, "events_compacted")
    with_day = ev.withColumn("day", F.to_date(F.col("ts")))
    stamp.ensure(
        frag,
        src,
        f"frag{_FRAG_FILES}",
        lambda: (
            with_day.repartition(_FRAG_FILES)  # fragment every day across 8 writers
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(frag)
        ),
    )
    stamp.ensure(
        compact,
        src,
        "compact1",
        lambda: (
            catalog.read_parquet(spark, frag)
            .repartition(F.col("day"))  # one task owns each day => one file
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(compact)
        ),
    )
    back = catalog.read_parquet(spark, compact)
    return (
        back.groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .orderBy("day")
    )


@register("s8b_api_stream_ingest", oracle=_API_INGEST_ORACLE)
def s8b_api_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8b — the STREAMING twin of the API source: the same paginated
    endpoint consumed through a Python DataSource
    ``simpleStreamReader`` (sources/api_source.py) — each micro-batch
    advances the {"page": N} offset by one page, the committed-offset
    log makes restarts replay exactly the uncommitted range
    (readBetweenOffsets), and an empty tail read reports caught-up.
    This is the continuous-ingestion production shape of S8: the
    scraper polls the API forever; here ``processAllAvailable`` bounds
    the run once the simulated endpoint is drained (Python stream
    sources do not support Trigger.AvailableNow — Spark logs the
    fallback — so the drain is explicit). The oracle is the plain
    part-table aggregate: 8 micro-batches of paged ingest must
    reconstruct every row and every double bit."""
    import uuid as _uuid

    from sales_agent_graphdb_spark.sources.api_source import (
        ensure_api_pages,
        register_api_stream_source,
    )

    endpoint = ensure_api_pages(spark, sf_dir)
    register_api_stream_source(spark)
    stream = (
        spark.readStream.format("product_api_stream")
        .option("endpoint", endpoint)
        .load()
    )
    sink = f"s8b_sink_{_uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table(sink)
    out = (
        rows.groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_products"),
            F.sum(money("p_retailprice")).cast("double").alias("total_price"),
        )
        .orderBy("brand")
    )
    # Materialize then drop the memory sink (the pipelines.py rule:
    # never leave a sink pinning rows in driver memory).
    result = spark.createDataFrame(out.collect(), schema=out.schema)
    spark.catalog.dropTempView(sink)
    return result


@register(
    "s8c_stream_restart_resume",
    oracle=f"""
    SELECT p_brand AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_products,
           CAST(SUM({money_sql("p_retailprice")}) AS DOUBLE) AS total_price,
           TRUE AS run1_strict_prefix,
           TRUE AS resumed_batch_numbering,
           TRUE AS batches_align_pages
    FROM part GROUP BY brand ORDER BY brand
    """,
)
def s8c_stream_restart_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8c — CHECKPOINT-RESTART exactly-once evidence (VERDICT r05 #3):
    the s8b paginated stream run TWICE against one checkpoint. Run 1
    sees the endpoint truncated to its first 3 pages (``max_pages`` —
    the API's state at time T), drains, and stops; run 2 reopens the
    SAME checkpoint against the full 8-page endpoint and drains the
    rest. Each micro-batch lands in a parquet lake via foreachBatch
    with DYNAMIC batch_id-partition overwrite — the idempotent-rewrite
    pattern that makes a replayed batch a no-op instead of a
    duplicate.

    The page layout (page = p_partkey % 8, api_source.ensure_api_pages)
    makes every restart claim hash-checkable against the plain part
    table:
    - run1_strict_prefix: between the runs the lake held EXACTLY the
      rows with p_partkey % 8 < 3 (count + key checksum compared
      in-plan) — the stop provably landed mid-stream;
    - resumed_batch_numbering: run 2's foreachBatch callbacks saw
      batch ids starting at 3, not 0 — the query resumed the
      checkpoint's committed offset instead of restarting the source;
    - batches_align_pages: in the final lake every row satisfies
      batch_id == p_partkey % 8 across exactly 8 distinct batch ids —
      batch b carried page b and nothing was replayed or skipped.
    The brand aggregate over the restart-crossing lake must then equal
    the oracle's one-shot part aggregate bit-for-bit (exact DECIMAL).

    Scale: checkpointed offsets + idempotent partition overwrite is
    THE nightly-ingest restart contract at 100 TB — restart cost is
    |uncommitted batches|, not |history|, and a crash between sink
    write and offset commit re-lands one partition of bytes rather
    than corrupting the table."""
    import shutil as _shutil
    import uuid as _uuid

    from sales_agent_graphdb_spark.sources.api_source import (
        ensure_api_pages,
        register_api_stream_source,
    )

    endpoint = ensure_api_pages(spark, sf_dir)
    register_api_stream_source(spark)
    run_id = _uuid.uuid4().hex[:12]
    ckpt = _scratch(sf_dir, f"s8c_ckpt_{run_id}")
    lake = _scratch(sf_dir, f"s8c_lake_{run_id}")

    run2_batches: list[int] = []
    landed = catalog.WrittenParquet()

    def _writer(batch_ids: list[int] | None):
        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            if batch_ids is not None:
                batch_ids.append(batch_id)
            if batch_df.isEmpty():
                return
            batch = batch_df.withColumn("batch_id", F.lit(batch_id))
            (
                batch.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(lake)
            )
            landed.record(lake, batch)

        return write_batch

    def _drain(max_pages: int | None, batch_ids: list[int] | None) -> None:
        reader = spark.readStream.format("product_api_stream").option(
            "endpoint", endpoint
        )
        if max_pages is not None:
            reader = reader.option("max_pages", str(max_pages))
        q = (
            reader.load()
            .writeStream.foreachBatch(_writer(batch_ids))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    try:
        # Run 1: endpoint serves pages 0-2 only; drain and stop.
        _drain(3, None)
        mid = landed.read(spark, lake).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("p_partkey").alias("key_sum"),
            F.max("batch_id").alias("max_bid"),
        ).collect()[0]
        # Run 2: full endpoint, SAME checkpoint; resumes at page 3.
        _drain(None, run2_batches)
        final = landed.read(spark, lake)

        part = catalog.load_table(spark, sf_dir, "part")
        prefix = part.filter(F.col("p_partkey") % 8 < 3).agg(
            F.count(F.lit(1)).alias("pn"), F.sum("p_partkey").alias("pkey_sum")
        )
        verdict_prefix = prefix.select(
            (
                (F.col("pn") == F.lit(mid["n"]))
                & (F.col("pkey_sum") == F.lit(mid["key_sum"]))
                & (F.lit(mid["max_bid"]) == 2)
            ).alias("run1_strict_prefix")
        )
        resumed = bool(run2_batches) and min(run2_batches) == 3
        align = final.agg(
            (
                (F.coalesce(
                    F.sum(F.when(F.col("batch_id") != F.col("p_partkey") % 8, 1)),
                    F.lit(0),
                ) == 0)
                & (F.count_distinct(F.col("batch_id")) == 8)
            ).alias("batches_align_pages")
        )
        verdict = F.broadcast(
            verdict_prefix.crossJoin(align).withColumn(
                "resumed_batch_numbering", F.lit(resumed)
            )
        )
        out = (
            final.groupBy(F.col("p_brand").alias("brand"))
            .agg(
                F.count(F.lit(1)).alias("n_products"),
                F.sum(money("p_retailprice")).cast("double").alias("total_price"),
            )
            .crossJoin(verdict)
            .select(
                "brand", "n_products", "total_price",
                "run1_strict_prefix", "resumed_batch_numbering",
                "batches_align_pages",
            )
            .orderBy("brand")
        )
        # Materialize before the finally-block deletes the lake files.
        return spark.createDataFrame(out.collect(), schema=out.schema)
    finally:
        _shutil.rmtree(ckpt, ignore_errors=True)
        _shutil.rmtree(lake, ignore_errors=True)


@register(
    "s14_corrupt_quarantine",
    oracle=f"""
    WITH base AS (SELECT * FROM orders WHERE o_orderkey <= 1000),
    valid AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0)
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE) AS sum_price
    FROM valid GROUP BY 1
    UNION ALL
    SELECT '~QUARANTINED' AS status,
           CAST((SELECT COUNT(*) FROM base WHERE o_orderkey % 7 = 0) AS BIGINT) AS n,
           CAST(0 AS DOUBLE) AS sum_price
    ORDER BY status
    """,
)
def s14_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — malformed-record quarantine, the ingest
    robustness contract every production feed needs: a JSONL batch
    where every 7th-ish record (o_orderkey % 7 == 0 — a portable
    integer rule, so the oracle reproduces the planted corruption
    exactly) is written as invalid JSON; the reader runs PERMISSIVE
    with columnNameOfCorruptRecord so bad records become rows instead
    of job failures, valid rows flow to the exact-DECIMAL aggregate,
    and corrupt rows are counted into a '~QUARANTINED' ledger line
    (sorting after the status letters; the production sink would write
    them to a dead-letter path for replay). FAILFAST would abort the
    100 TB job on one bad crawl record; DROPMALFORMED would silently
    lose data — PERMISSIVE + quarantine is the only shape that is both
    complete and auditable.

    The parsed frame is checkpointed (``materialize``) before the split: Spark
    disallows filtering ONLY the internal corrupt-record column on a
    raw file scan (the parser would need a second pass), so the
    materialization is load-bearing, not a cache nicety. Scale: the
    JSON scan parallelizes per file split; the corrupt predicate is a
    null check; both legs reuse the one materialized pass."""
    o = catalog.load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 1000
    )
    path = _scratch(sf_dir, "jsonl_corrupt")
    line = F.to_json(F.struct("o_orderkey", "o_orderstatus", "o_totalprice"))
    (
        o.select(
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.concat(F.lit("{BAD::"), F.substring(line, 1, 12)),
            )
            .otherwise(line)
            .alias("value")
        )
        .write.mode("overwrite")
        .text(path)
    )
    parsed = materialize(
        spark.read.schema(
            "o_orderkey long, o_orderstatus string, o_totalprice double, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path),
        eager=False,
    )
    valid = parsed.filter(F.col("_corrupt_record").isNull())
    quarantined = parsed.filter(F.col("_corrupt_record").isNotNull())
    good = valid.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money("o_totalprice")).cast("double").alias("sum_price"),
    )
    bad = quarantined.agg(
        F.lit("~QUARANTINED").alias("status"),
        F.count(F.lit(1)).alias("n"),
        F.lit(0.0).alias("sum_price"),
    )
    return good.unionByName(bad).orderBy("status")


@register(
    "s15_api_sink_roundtrip",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type ORDER BY event_type
    """,
)
def s15_api_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family extension — the WRITER half of the custom-connector
    story (S8/S8b cover the read side): events pushed through the
    ``api_sink`` Python DataSource (sources/api_source.py), which
    'POSTs' each partition as one JSON-lines batch under a two-phase
    commit — tasks write to staging and report WriterCommitMessages;
    only the driver-side commit publishes files and the _COMMITTED
    manifest, so the sink is atomic under task retries/speculation
    (orphan staging files are never published). The readback parses
    ONLY manifest-listed batch files with an explicit schema and must
    reproduce the exact-DECIMAL per-type aggregate of the source
    table: doubles survive because json emits shortest round-trip
    reprs. At 100 TB the rename becomes the real batch POST with an
    idempotency key; the task/commit split is the load-bearing part."""
    import json as _json
    import shutil as _shutil

    from sales_agent_graphdb_spark.sources.api_source import register_api_sink

    register_api_sink(spark)
    tgt = _scratch(sf_dir, "api_sink_events")
    _shutil.rmtree(tgt, ignore_errors=True)
    os.makedirs(tgt, exist_ok=True)
    ev = catalog.load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.repartition(4).write.format("api_sink").mode("append").option(
        "path", tgt
    ).save()
    with open(os.path.join(tgt, "_COMMITTED")) as f:
        manifest = _json.load(f)
    files = [os.path.join(tgt, m["file"]) for m in manifest]
    back = spark.read.schema(
        "event_id long, event_type string, value double"
    ).json(files)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Round 7 (VERDICT r06 #2): dynamic partition pruning — the runtime
# scan lever the static-pruning queries (s10 sorted layout, s12
# z-order) can't reach: the fact filter isn't known until the DIM
# side's subquery runs.
# ---------------------------------------------------------------------------


def dpp_fact_path(sf_dir: str) -> str:
    return _scratch(sf_dir, "lineitem_by_month")


def dpp_dim_path(sf_dir: str) -> str:
    return _scratch(sf_dir, "calendar_months")


def build_dpp_layout(spark: SparkSession, sf_dir: str) -> None:
    """Ingest side (stamped, reused across queries in a round): rewrite
    lineitem HIVE-PARTITIONED by ship month (83 directories at the
    test range — at 100 TB this is the date-partitioned fact layout
    every warehouse ships), plus a tiny calendar dim parquet keyed by
    the same month string with year/quarter attributes."""
    from sales_agent_graphdb_spark.sources import stamp

    src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    fact_root = dpp_fact_path(sf_dir)
    dim_root = dpp_dim_path(sf_dir)
    def _build_both() -> None:
        li = catalog.load_table(spark, sf_dir, "lineitem")
        month = F.date_format("l_shipdate", "yyyy-MM").alias("ship_month")
        (
            li.select("l_extendedprice", "l_discount", "l_quantity", month)
            # one file per month directory: the writer-side shuffle groups
            # each partition's rows instead of every task writing 83 files
            .repartition(F.col("ship_month"))
            .write.mode("overwrite")
            .partitionBy("ship_month")
            .parquet(fact_root)
        )
        (
            li.select(month)
            .distinct()
            .select(
                "ship_month",
                F.substring("ship_month", 1, 4).cast("int").alias("cal_year"),
                ((F.substring("ship_month", 6, 2).cast("int") - 1) / 3 + 1)
                .cast("int")
                .alias("cal_quarter"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dim_root)
        )
        stamp.mark(dim_root, src)

    # one lock (the fact root's) guards BOTH directories; the dim
    # stamp rides the valid predicate so a half-built pair rebuilds
    stamp.ensure(
        fact_root,
        src,
        "",
        _build_both,
        valid=lambda: stamp.is_fresh(dim_root, src),
    )


@register(
    "dpp_partition_pruned",
    oracle=f"""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({money_sql("l_extendedprice")}
                    * (1 - {rate_sql("l_discount")})) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    GROUP BY 1 ORDER BY ship_month
    """,
)
def dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: the month-partitioned lineitem fact
    joined to the calendar dim filtered to 1996-Q3 — the fact's
    partition filter exists only at RUNTIME, after the dim subquery
    evaluates, so static pushdown can't prune the scan; Spark's DPP
    inserts a dynamicpruningexpression(ship_month IN <dim subquery>)
    partition filter that reuses the join's broadcast, and the scan
    reads 3 of 83 month directories (both pinned in
    tests/test_plans.py via the scan's numPartitions metric). At
    100 TB this is the single biggest scan-cost lever Spark offers —
    a quarter's join reads ~4% of the fact instead of all of it. The
    oracle computes the same quarter directly on the ORIGINAL
    lineitem, so the hash also certifies the partitioned rewrite
    lost no rows (date_format vs strftime month keys, exact-DECIMAL
    revenue)."""
    build_dpp_layout(spark, sf_dir)
    fact = catalog.read_parquet(spark, dpp_fact_path(sf_dir))
    dim = catalog.read_parquet(spark, dpp_dim_path(sf_dir)).filter(
        (F.col("cal_year") == 1996) & (F.col("cal_quarter") == 3)
    )
    joined = fact.join(F.broadcast(dim), "ship_month")
    return (
        joined.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(money("l_extendedprice") * (1 - rate("l_discount")))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("ship_month")
    )


# ---------------------------------------------------------------------------
# Round 8: NESTED schema pruning — the scan-cost lever for struct-typed
# lakes (event payloads, API envelopes, multimodal metadata): Spark's
# SchemaPruning rule must narrow the parquet ReadSchema to only the
# struct FIELDS the query touches, not whole structs.
# ---------------------------------------------------------------------------


def nested_orders_path(sf_dir: str) -> str:
    return _scratch(sf_dir, "orders_nested")


def build_nested_orders(spark: SparkSession, sf_dir: str) -> None:
    """Ingest side (stamped, reused): rewrite orders as a nested
    document — customer struct<custkey, priority>, money struct<total,
    bucket>, status kept top-level — the shape an event lake or API
    envelope lands in (j2_order_items_nested nests at QUERY time; this
    materializes the nest so the SCAN must prune it)."""
    from sales_agent_graphdb_spark.sources import stamp

    src = f"{sf_dir.rstrip('/')}/orders.parquet"
    root = nested_orders_path(sf_dir)
    def _build_nested() -> None:
        o = catalog.load_table(spark, sf_dir, "orders")
        (
            o.select(
                "o_orderkey",
                F.struct(
                    F.col("o_custkey").alias("custkey"),
                    F.col("o_orderpriority").alias("priority"),
                ).alias("customer"),
                F.struct(
                    F.col("o_totalprice").alias("total"),
                    (F.floor(F.col("o_totalprice") / 50000)).alias("bucket"),
                ).alias("money"),
                "o_orderstatus",
            )
            .coalesce(4)
            .write.mode("overwrite")
            .parquet(root)
        )

    stamp.ensure(root, src, "", _build_nested)


@register(
    "s16_nested_schema_pruning",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE)
             AS sum_total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY 1 ORDER BY priority
    """,
)
def s16_nested_schema_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED schema pruning (S-ext): aggregate over TWO struct fields
    (customer.priority, money.total) of the materialized nested
    orders, with a top-level filter — Spark's SchemaPruning must
    narrow the parquet ReadSchema to struct<priority:string> and
    struct<total:double>, leaving customer.custkey and money.bucket
    UNREAD (pinned in tests/test_plans.py: ReadSchema lists exactly
    the two touched fields; at 100 TB a payload struct is most of the
    row's bytes and pruning it is the difference between scanning the
    lake and scanning two skinny columns). The oracle computes the
    same answer from the ORIGINAL flat orders, so the hash also
    certifies the nested rewrite lost nothing."""
    build_nested_orders(spark, sf_dir)
    n = catalog.read_parquet(spark, nested_orders_path(sf_dir))
    return (
        n.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("customer.priority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(money("money.total")).cast("double").alias("sum_total"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Round 8: snapshot versioning / time travel — copy-on-write snapshot
# reads over a versioned parquet layout (the lakehouse capability
# m7_table_diff / m8_cdc_apply compute INTO; here the snapshots are
# materialized and BOTH remain readable — v1 is immutable under the
# v2 write).
# ---------------------------------------------------------------------------


def snapshot_root(sf_dir: str) -> str:
    return _scratch(sf_dir, "orders_versioned")


_TT_CANCEL_MOD = 13  # v2 change feed: every 13th order flips to 'X'
_TT_DELETE_MOD = 17  # ... and every 17th order is deleted


def build_order_snapshots(spark: SparkSession, sf_dir: str) -> None:
    """Ingest side (stamped, reused): write snapshot v1 = the base
    orders projection, then v2 = v1 with a deterministic change feed
    applied (cancellations + deletions) as a FULL new snapshot
    directory — copy-on-write, v1's files untouched. A _MANIFEST
    file records the version list (what a table format's metadata
    layer provides; the reader resolves 'as of v1' through it)."""
    import json as _json

    from sales_agent_graphdb_spark.sources import stamp

    src = f"{sf_dir.rstrip('/')}/orders.parquet"
    root = snapshot_root(sf_dir)
    def _build_snapshots() -> None:
        o = catalog.load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        o.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "v1"))
        v2 = o.filter(F.col("o_orderkey") % _TT_DELETE_MOD != 0).select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % _TT_CANCEL_MOD == 0, F.lit("X"))
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
            "o_totalprice",
        )
        v2.coalesce(4).write.mode("overwrite").parquet(os.path.join(root, "v2"))
        with open(os.path.join(root, "_MANIFEST.json"), "w") as f:
            _json.dump({"versions": ["v1", "v2"], "current": "v2"}, f)

    stamp.ensure(root, src, "", _build_snapshots)


def read_snapshot(spark: SparkSession, sf_dir: str, version: str | None = None) -> DataFrame:
    """Time-travel reader: resolve a version (default = manifest
    current) and read ONLY that snapshot directory."""
    import json as _json

    root = snapshot_root(sf_dir)
    with open(os.path.join(root, "_MANIFEST.json")) as f:
        manifest = _json.load(f)
    v = version or manifest["current"]
    if v not in manifest["versions"]:
        raise ValueError(f"unknown snapshot version: {v}")
    return catalog.read_parquet(spark, os.path.join(root, v))


@register(
    "s17_snapshot_time_travel",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % {_TT_CANCEL_MOD} = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus,
             o_totalprice
      FROM orders WHERE o_orderkey % {_TT_DELETE_MOD} <> 0),
    snaps AS (
      SELECT 'v1' AS version, * FROM v1
      UNION ALL SELECT 'v2', * FROM v2)
    SELECT version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_orderstatus = 'X' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_cancelled,
           CAST(SUM({money_sql("o_totalprice")}) AS DOUBLE)
             AS total_value
    FROM snaps GROUP BY version ORDER BY version
    """,
)
def s17_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT time travel (S-ext): both versions of the versioned
    orders table read THROUGH the manifest reader — v1 'as of' the
    original ingest, v2 after the change feed (copy-on-write; the v2
    write never touches v1's files, so historical reads stay exact
    forever). The oracle recomputes both snapshots from the ORIGINAL
    orders, so the hash certifies (a) v1 is still bit-exact after the
    v2 write and (b) v2 applied exactly the declared change feed. At
    100 TB the same manifest indirection is incremental-snapshot
    metadata (a table format); full-copy v2 here stands in for the
    file-level reuse those formats add — the READ path, which is what
    this query exercises, is identical."""
    build_order_snapshots(spark, sf_dir)
    v1 = read_snapshot(spark, sf_dir, "v1").withColumn("version", F.lit("v1"))
    v2 = read_snapshot(spark, sf_dir, "v2").withColumn("version", F.lit("v2"))
    return (
        v1.unionByName(v2)
        .groupBy("version")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("o_orderstatus") == "X", 1).otherwise(0)
            ).alias("n_cancelled"),
            F.sum(money("o_totalprice")).cast("double").alias("total_value"),
        )
        .orderBy("version")
    )


@register(
    "s18_text_source_roundtrip",
    oracle="""
    WITH esc AS (
      SELECT doc_id, lang,
             regexp_replace(text, '[\\n\\r\\t]', ' ', 'g') AS line
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(line)) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM esc GROUP BY lang ORDER BY lang
    """,
)
def s18_text_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S-family breadth — the LINE-ORIENTED TEXT source/sink
    (spark.read.text / df.write.text), the format every scraped-corpus
    hand-off still uses: documents flatten to one tab-framed line each
    (record-separator characters escaped first — the escaping IS the
    format contract, so it appears in the oracle too), the sink writes
    plain .txt part files, the source reads them back as a single
    `value` column, and the parse splits each record at the FIRST two
    tabs back into (doc_id, lang, text). The per-lang aggregate passes
    only if every record framed, wrote, read, and parsed back exactly
    — the oracle computes the same totals from the original parquet.

    Scale: text read/write is splittable by line and streams through
    whole-stage codegen (one regexp + two substring_index calls per
    row, no UDF); at 100 TB this is the cheapest interchange format
    that still parallelizes — the docstring-level warning is that it
    carries NO schema and NO types, which is exactly what this
    query's parse step has to reconstruct."""
    d = catalog.load_table(spark, sf_dir, "documents")
    path = _scratch(sf_dir, "text_lines")
    line = F.concat_ws(
        "\t",
        F.col("doc_id").cast("string"),
        F.col("lang"),
        F.regexp_replace("text", "[\\n\\r\\t]", " "),
    )
    d.select(line.alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    parsed = back.select(
        F.substring_index("value", "\t", 1).cast("bigint").alias("doc_id"),
        F.substring_index(F.substring_index("value", "\t", 2), "\t", -1).alias(
            "lang"
        ),
        F.expr("substring(value, length(substring_index(value, '\t', 2)) + 2)").alias(
            "text_esc"
        ),
    )
    return (
        parsed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text_esc")).alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


@register(
    "s19_parquet_bloom_probe",
    oracle=f"""
    WITH b AS (SELECT MAX(l_orderkey) AS mx FROM lineitem)
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM({money_sql("l_extendedprice")}) AS DOUBLE)
             AS revenue
    FROM lineitem, b
    WHERE l_orderkey IN (b.mx // 2, b.mx // 3, b.mx // 5)
    GROUP BY l_orderkey ORDER BY l_orderkey
    """,
)
def s19_parquet_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 extension — PARQUET BLOOM FILTERS for point lookups on
    UNSORTED high-cardinality keys: s10/s12 prune row groups via
    min/max footer stats, which need the key CLUSTERED; here lineitem
    is rewritten deliberately hash-distributed on l_orderkey (every
    row group spans the full key range — stats prune NOTHING) with
    parquet bloom filters (``parquet.bloom.filter.enabled``), the
    standard parquet-format SBBF each row group stores so a reader
    testing ``key = v`` skips row groups whose filter says absent —
    the data-skipping path that still works when the table is sorted
    by a DIFFERENT column (zorder can cover 2 keys; bloom covers the
    Nth). The layout PROJECTS the lookup columns and enables blooms
    globally: the per-column ``...enabled#l_orderkey`` writer-option
    form does NOT reach parquet-mr in this Spark build (measured:
    zero size delta; the global flag grows the same write 994 KB ->
    5.2 MB), so column scoping is done by projection instead. The
    read-back runs an SF-relative 3-key IN lookup (pushed to the
    scan as In(l_orderkey, ...)); the oracle runs the same lookup on
    the ORIGINAL table, certifying the rewrite+filter path loses no
    rows. tests/test_round12_ops.py proves the bloom bytes are
    actually in the files (twin write without the option is
    measurably smaller) and pins the pushed filter.

    Scale: the layout write is SF-stamped and amortized (ANN-index
    pattern); at 100 TB the bloom bytes (~1 MB per 1M-distinct row
    group) buy row-group skips no sort order could provide —
    the lookup reads |matching row groups|, not the table."""
    from sales_agent_graphdb_spark.sources import stamp

    li = catalog.load_table(spark, sf_dir, "lineitem")
    root = _scratch(sf_dir, "lineitem_bloom")
    src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    _RECIPE = "bloom-okey-v2"  # bump when the layout recipe changes

    def _build() -> None:
        (
            li.select("l_orderkey", "l_extendedprice")
            .repartition(4, F.col("l_orderkey"))  # hash: no key clustering
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled", "true")
            .option("parquet.bloom.filter.expected.ndv", "100000")
            .parquet(root)
        )

    stamp.ensure(root, src, _RECIPE, _build)
    back = catalog.read_parquet(spark, root)
    mx = back.agg(F.max("l_orderkey")).head()[0]
    keys = [mx // 2, mx // 3, mx // 5]
    return (
        back.filter(F.col("l_orderkey").isin(keys))
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(money("l_extendedprice")).cast("double").alias("revenue"),
        )
        .orderBy("l_orderkey")
    )
