"""Shared driver-protocol pieces used by drive_entry.py (full sweep)
and check_queries.py (targeted) — ONE definition of the comparison the
spark-graft driver performs, so the two tools can never drift apart.
"""

from __future__ import annotations

import hashlib

from sales_agent_graphdb_spark.catalog import TABLES  # one definition


def vhash(rows, cols) -> str:
    """Order-insensitive value hash over repr'd cells with columns
    sorted by name — the driver's comparison; bit-exact doubles
    required.

    STRICT on cell types (VERDICT r07 #2, r08 #1): the REAL driver
    canonicalizes through pandas (``toPandas()`` vs ``fetchdf()``,
    then ``sort_values`` → ``factorize``), which

    - throws ``TypeError: unhashable type`` on list/dict/ndarray
      cells (r07's red row: ``ann_filtered_ivf_topk`` array<long>),
    - DIVERGES on DECIMAL cells (r08's red row,
      ``sql_api_lateral_column_alias``: Spark ``toPandas()`` keeps
      ``Decimal('5647.3130')`` objects while DuckDB ``fetchdf()``
      converts to float64 ``5647.313`` — same value, different repr),
    - and DIVERGES on BINARY cells (Spark yields ``bytes``, DuckDB
      ``bytearray`` — measured in tests/test_type_parity.py),

    while ``repr`` over ``collect()``/``fetchall()`` tuples happily
    agrees for all three. Reject them here so this simulation can
    never again be more permissive than the driver. The certified-safe
    scalar types (bool/int/float/str/date/timestamp) are pinned by
    tests/test_type_parity.py.
    """
    import decimal

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    for r in rows:
        for i in order:
            v = r[i]
            if isinstance(v, (list, dict, set)) or type(v).__module__ == "numpy" and getattr(v, "ndim", 0):
                raise TypeError(
                    f"non-scalar cell in column {cols[i]!r}: {type(v).__name__} "
                    "— the driver's pandas canonicalizer cannot hash it "
                    "(scalarize with concat_ws/to_json before registering)"
                )
            if isinstance(v, decimal.Decimal):
                raise TypeError(
                    f"Decimal cell in column {cols[i]!r} — the driver's pandas "
                    "canonicalization diverges on DECIMAL outputs (Spark keeps "
                    "Decimal objects, DuckDB converts to float64); CAST the "
                    "column to DOUBLE on both sides before registering"
                )
            if isinstance(v, (bytes, bytearray)):
                raise TypeError(
                    f"binary cell in column {cols[i]!r} — Spark toPandas() "
                    "yields bytes, DuckDB fetchdf() yields bytearray; encode "
                    "to hex/base64 strings before registering"
                )
    canon = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    return hashlib.md5(str(canon).encode()).hexdigest()[:12]


def compare(sdf, con, sql: str):
    """The driver's verdict on one query: row count, sorted column names
    and ``vhash`` of the Spark DataFrame ``sdf`` against the DuckDB
    ``sql`` on ``con``. Returns (record, spark_rows, oracle_rows)."""
    srows = [tuple(r) for r in sdf.collect()]
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = [tuple(r) for r in res.fetchall()]
    shash, ohash = vhash(srows, sdf.columns), vhash(orows, ocols)
    record = {
        "rows_match": len(srows) == len(orows),
        "schema_match": sorted(sdf.columns) == sorted(ocols),
        "hash_match": shash == ohash,
        "spark_rows": len(srows),
        "oracle_rows": len(orows),
        "spark_hash": shash,
        "oracle_hash": ohash,
        "err": None,
    }
    return record, srows, orows


def make_spark(app_name: str = "driver_protocol"):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def make_duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con
