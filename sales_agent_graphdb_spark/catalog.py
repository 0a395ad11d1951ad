"""Catalog: testdata loaders + derived reference-shaped views.

The driver testdata is a TPC-H-ish star schema (see FIXTURES.md §1).
The reference system's e-commerce tables (SURVEY.md §1) are derived
from it *in-query* (FIXTURES.md §2) so every operator has an
oracle-checkable fixture:

  products      <- part      (sku/name/category/price/stock)
  categories    <- distinct p_brand            (graph vertices)
  in_category   <- (p_partkey -> p_brand)      (graph edges)
  customers     <- customer  (+ synthesized unique email)
  ref_orders    <- orders    (status mapped to the OrderStatus enum,
                              reference models.py:8-13)
  order_items   <- lineitem  (order_id/product_id/qty/unit_price)
  chat_messages <- events    (session_id=user_id, content=props)

All derivations are pure column expressions — they stay inside
whole-stage codegen and add no shuffle; Catalyst prunes unused columns
back to the parquet scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Reference OrderStatus enum (models.py:8-13) mapped from TPC-H-ish
# o_orderstatus codes.
STATUS_MAP = {"O": "PENDING", "P": "PROCESSING", "F": "DELIVERED"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet => pushdown + pruning for free.

    ``events.ts`` has shipped in two encodings across testdata
    generations: TIMESTAMP(NANOS) (Spark rejects by default — read the
    nanos as long and floor-truncate to µs, matching DuckDB) and plain
    TIMESTAMP_NTZ (read natively). Detect from the file schema and
    normalize both to session-TZ TimestampType so downstream window /
    watermark / oracle code sees one type regardless of generation."""
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        ensure_events_readable(spark, path)
        return normalize_events_ts(read_parquet(spark, path))
    return read_parquet(spark, path)


_NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Inferred schemas by absolute path: (signature key, StructType). One
# entry per path, replaced when its key changes, so the cache holds at
# most one schema per stable path the engine reads. Each entry carries
# its key, so a racing writer can cost a re-inference, never a wrong
# schema.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def path_signature(path: str) -> tuple | None:
    """What a parquet read of ``path`` sees on disk: ``(mtime_ns, size)``
    for a file; for a directory the sorted ``(relpath, mtime_ns, size)``
    of every file under it (a Spark overwrite writes new part-file
    names, so it changes the signature). None when ``path`` does not
    stat (a glob, a non-local URI)."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not os.path.isdir(path):
        return (st.st_mtime_ns, st.st_size)
    sig = []
    for root, _dirs, files in os.walk(path):
        for name in files:
            full = os.path.join(root, name)
            try:
                fst = os.stat(full)
            except OSError:  # removed under the walk: not what a read sees
                continue
            sig.append((os.path.relpath(full, path), fst.st_mtime_ns, fst.st_size))
    return tuple(sorted(sig))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    a repeat read. The schema Spark inferred is cached under the path's
    signature (``path_signature``) plus the session's ``nanosAsLong``
    value, which changes what inference returns; a hit passes it to
    ``spark.read.schema``. Invariant: a changed signature re-infers, so
    a cached schema is only ever applied to the files it was inferred
    from. A path without a signature is read with plain inference.
    Only paths that outlive a call belong here: a per-call scratch path
    would add one entry per call."""
    sig = path_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = (sig, spark.conf.get(_NANOS_AS_LONG, "false"))
    apath = os.path.abspath(path)
    hit = _SCHEMAS.get(apath)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[apath] = (key, df.schema)
    return df


def written_schema(df: DataFrame) -> T.StructType:
    """The schema a parquet read of ``df``'s write returns: the same
    fields with every column and nested field nullable, because Spark
    writes them all as optional."""

    def nullable(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType(
                [T.StructField(f.name, nullable(f.dataType), True, f.metadata) for f in dt]
            )
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(nullable(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(nullable(dt.keyType), nullable(dt.valueType), True)
        return dt

    return nullable(df.schema)


class WrittenParquet:
    """The parquet path a per-call writer (a ``foreachBatch`` sink, a
    streaming lake) last wrote, with the schema it wrote there, so the
    next batch and the driver read it back without a schema-inference
    job and without a ``read_parquet`` cache entry per call. A path it
    did not record (a restart leaves no schema in memory) is read with
    inference."""

    def __init__(self) -> None:
        self.path: str | None = None
        self.schema: T.StructType | None = None

    def record(self, path: str, df: DataFrame) -> None:
        self.path, self.schema = path, written_schema(df)

    def read(self, spark: SparkSession, path: str) -> DataFrame:
        if path == self.path:
            return spark.read.schema(self.schema).parquet(path)
        return spark.read.parquet(path)


# Paths already probed for the TIMESTAMP(NANOS) encoding this session.
_NANOS_PROBED: set[str] = set()


def ensure_events_readable(spark: SparkSession, path: str) -> None:
    """Enable ``nanosAsLong`` ONLY if this events file actually needs it
    (TIMESTAMP(NANOS) encoding). The flag is session-global; setting it
    unconditionally would silently turn any OTHER table's future nanos
    column into a bigint instead of the loud read-time error Spark
    gives by default — so probe first, set only on demand."""
    if path in _NANOS_PROBED:
        return
    try:
        read_parquet(spark, path)
    except Exception:  # AnalysisException: Illegal Parquet type TIMESTAMP(NANOS)
        spark.conf.set(_NANOS_AS_LONG, "true")
    _NANOS_PROBED.add(path)


def normalize_events_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """THE events-ts normalization — long-encoded nanos floor-truncate
    to µs (integer division: ns values ~1.7e18 overflow double
    precision), native timestamps cast to session-TZ TimestampType.
    Batch loader and BOTH streaming sources must share this one
    definition: batch/stream hash parity rests on identical truncation
    (review r03: it was copy-pasted in three files)."""
    if df.schema[ts_col].dataType.simpleString() == "bigint":
        return df.withColumn(
            ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000"))
        )
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))


# ---------------------------------------------------------------------------
# Reference-shaped derived views (FIXTURES.md §2)
# ---------------------------------------------------------------------------


def products(spark: SparkSession, sf_dir: str) -> DataFrame:
    """products table (reference models.py:28-42) derived from part."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").alias("id"),
        F.col("p_partkey").cast("string").alias("sku"),
        F.col("p_name").alias("name"),
        F.col("p_brand").alias("category"),
        F.col("p_type").alias("description"),
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("stock_quantity"),
    )


def categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category vertices (reference neo4j_service.py:64-66)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(F.col("p_brand").alias("category_name")).distinct()


def in_category(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(:Product)-[:IN_CATEGORY]->(:Category) edges (neo4j_service.py:66)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey").cast("string").alias("sku"),
        F.col("p_brand").alias("category_name"),
    )


def customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customers table (models.py:15-26); email synthesized for
    uniqueness / semi-join tests."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.concat(F.col("c_custkey").cast("string"), F.lit("@x.test")).alias("email"),
        F.col("c_name").alias("full_name"),
        F.lit("customer").alias("role"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_mktsegment").alias("mktsegment"),
    )


def ref_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders table (models.py:44-55) with the OrderStatus enum mapping."""
    o = load_table(spark, sf_dir, "orders")
    status = F.col("o_orderstatus")
    mapped = F.lit("PENDING")  # default for unknown codes
    for code, enum in reversed(list(STATUS_MAP.items())):
        mapped = F.when(status == code, enum).otherwise(mapped)
    return o.select(
        F.col("o_orderkey").alias("id"),
        F.col("o_custkey").alias("customer_id"),
        mapped.alias("status"),
        F.col("o_totalprice").alias("total_amount"),
        F.col("o_orderdate").alias("created_at"),
        F.col("o_orderpriority").alias("priority"),
    )


def order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_items table (models.py:57-72) derived from lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("order_id"),
        F.col("l_partkey").alias("product_id"),
        F.col("l_linenumber").alias("line_no"),
        F.col("l_partkey").cast("string").alias("sku"),
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("ext_price"),
        F.col("l_discount").alias("discount"),
    )


def chat_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chat_messages(session_id, turn, role, content, ts) derived from
    events (reference chat_service.py:25-30 Redis message lists)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("user_id").alias("session_id"),
        F.col("event_id").alias("turn"),
        F.when(F.col("event_id") % 2 == 0, "user").otherwise("assistant").alias("role"),
        F.col("props").alias("content"),
        F.col("ts").alias("ts"),
    )
