"""Scalar expression kit (SURVEY.md §2.8, F1–F16).

All helpers return Column expressions built from pyspark.sql.functions
so they run JVM-side inside whole-stage codegen — no Python UDFs in the
hot path. Each cites the reference behavior it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact-money type used for deterministic aggregation: double inputs are
# 2-decimal money in the testdata; summing exact decimals makes the
# result independent of partitioning/summation order, so Spark and the
# DuckDB oracle agree bit-for-bit after the final cast back to double.
MONEY = "decimal(18,2)"


def md5_int(c: Column | str, salt: str = "", hex_digits: int = 15) -> Column:
    """THE md5-prefix hash: bigint of the first ``hex_digits`` hex chars
    of md5(string(c) || salt). Every sampler, split, sketch, A/B arm,
    random walk and portable MinHash buckets rows with it, and
    ``md5_int_sql`` is its DuckDB text — both sides must stay
    bit-identical, so a hash tweak happens here ONCE or the Spark and
    oracle sides silently diverge. 15 hex digits = 60 bits (modular
    buckets); 13 = 52 bits, exact as a double (uniform thresholds);
    8 = the hash-embedding dimensions."""
    c = F.col(c) if isinstance(c, str) else c
    s = c.cast("string")
    if salt:
        s = F.concat(s, F.lit(salt))
    return hex_int(F.md5(s), hex_digits)


def md5_int_sql(expr: str, salt: str = "", hex_digits: int = 15) -> str:
    """DuckDB twin of ``md5_int``."""
    s = f"CAST({expr} AS VARCHAR)" + (f" || '{salt}'" if salt else "")
    return hex_int_sql(f"md5({s})", hex_digits)


def hex_int(c: Column, hex_digits: int = 15) -> Column:
    """bigint of the first ``hex_digits`` chars of a hex digest — the
    prefix step of ``md5_int``, for a caller that carries the digest."""
    return F.conv(F.substring(c, 1, hex_digits), 16, 10).cast("bigint")


def hex_int_sql(expr: str, hex_digits: int = 15) -> str:
    """DuckDB twin of ``hex_int``."""
    return f"CAST(('0x' || substr({expr}, 1, {hex_digits})) AS BIGINT)"


# 2^52: a 13-hex-digit md5_int is a uniform integer below it, exact as
# a double, so `h < rate · 2^52` and `h / 2^52` are bit-identical on
# both engines (keep/drop thresholds, KMV uniforms).
H52_SPAN = 4503599627370496.0


def money(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(MONEY)


def money_sum(c: Column, alias: str) -> Column:
    """SUM over exact decimals, surfaced as double (order-insensitive)."""
    return F.sum(c).cast("double").alias(alias)


def extract_price(c: Column | str) -> Column:
    """F2 — last number in a messy price string, commas stripped
    (reference product_scraper.py:51-69)."""
    c = F.col(c) if isinstance(c, str) else c
    # try_element_at: a string with NO number yields an empty array, and
    # plain element_at(-1) on it ERRORS under ANSI mode (the Spark 4.x
    # default) — the messy-scraper contract is NULL, not a failed job.
    last = F.try_element_at(
        F.regexp_extract_all(c, F.lit(r"[0-9][0-9,]*(?:\.[0-9]+)?"), F.lit(0)),
        F.lit(-1),
    )
    return F.regexp_replace(last, ",", "").cast("double")


def surrogate_sku(name: Column | str) -> Column:
    """F3 — deterministic surrogate key GEN-{md5(lower(name))[:8]}
    (reference product_scraper.py:136-138). Content-hash keys are safe
    under any parallelism, unlike monotonically_increasing_id."""
    name = F.col(name) if isinstance(name, str) else name
    return F.concat(F.lit("GEN-"), F.upper(F.substring(F.md5(F.lower(name)), 1, 8)))


def is_email(c: Column | str) -> Column:
    """F14 — contains-'@' validation (reference admin.py:37-41)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.contains("@")


def is_http_url(c: Column | str) -> Column:
    """F15 — URL prefix validation (reference tiktok_scraper.py:25-38)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.rlike("^https?://")
