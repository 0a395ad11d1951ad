"""Scalar expression kit (SURVEY.md §2.8, F1–F16).

All helpers return Column expressions built from pyspark.sql.functions
so they run JVM-side inside whole-stage codegen — no Python UDFs in the
hot path. Each cites the reference behavior it re-expresses.

Exact-number grids (SURVEY hard case (c): DECIMAL(10,2) fidelity vs
DuckDB double math — pin types in both engines). Three decimal grids
carry every order-insensitive float aggregate, each spelled only here
as a Spark cast, its DuckDB text and (for the streaming state
functions) a Python quantizer:

- money ``decimal(18,2)``: ``money``/``money_sql``, and the integer
  cents ``money_cents``/``money_cents_sql``;
- rate ``decimal(4,2)``: ``rate``/``rate_sql``;
- 6-dp value ``decimal(20,6)``: ``dec6``/``dec6_sql``/``dec6_quantizer``.

Rules (the flagship_revenue_by_brand conventions): money doubles cast
to the money grid and rate doubles to the rate grid BEFORE arithmetic;
products and sums stay exact DECIMAL and cast to double only at the
end, so the result is independent of partitioning and summation order
and Spark and the DuckDB oracle agree bit for bit; averages are one
double division of exact aggregates, the same operation order on both
engines.

Invariant: a grid cast is portable only for inputs already on the
grid. Spark and Python round the shortest decimal repr HALF_UP, DuckDB
rounds the binary double: ``CAST(123456.1234565 AS DECIMAL(20,6))`` is
``123456.123457`` in Spark and Python but ``123456.123456`` in DuckDB.
The test tables hold 2-dp money, 2-dp rates and 2-dp ``events.value``
(no value at sf0.01 or sf0.1 has more decimals), so every cast here is
exact on both engines; a source with finer values breaks the oracles,
not the Spark side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


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


MONEY = "decimal(18,2)"
RATE = "decimal(4,2)"
DEC6 = "decimal(20,6)"


def _cast(c: Column | str, grid: str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast(grid)


def _cast_sql(expr: str, grid: str) -> str:
    return f"CAST({expr} AS {grid.upper()})"


def money(c: Column | str) -> Column:
    """``c`` on the money grid."""
    return _cast(c, MONEY)


def money_sql(expr: str) -> str:
    """DuckDB twin of ``money``."""
    return _cast_sql(expr, MONEY)


def money_cents(c: Column | str) -> Column:
    """``c`` as integer cents: money grid × 100 as bigint."""
    return (money(c) * 100).cast("bigint")


def money_cents_sql(expr: str) -> str:
    """DuckDB twin of ``money_cents``."""
    return f"CAST({money_sql(expr)} * 100 AS BIGINT)"


def rate(c: Column | str) -> Column:
    """``c`` on the rate grid."""
    return _cast(c, RATE)


def rate_sql(expr: str) -> str:
    """DuckDB twin of ``rate``."""
    return _cast_sql(expr, RATE)


def dec6(c: Column | str) -> Column:
    """``c`` on the 6-dp value grid."""
    return _cast(c, DEC6)


def dec6_sql(expr: str) -> str:
    """DuckDB twin of ``dec6``."""
    return _cast_sql(expr, DEC6)


def dec6_quantizer():
    """The Python twin of ``dec6`` for state functions that run on
    Python workers: returns ``q(value) -> Decimal``, 6 dp HALF_UP on
    the shortest repr — Spark's double→decimal(20,6) cast
    (BigDecimal.valueOf → setScale(6, HALF_UP)). The quantizer is a
    closure, so cloudpickle ships it by value and a worker needs no
    package import path."""
    import decimal

    q6 = decimal.Decimal("0.000001")

    def q(value) -> decimal.Decimal:
        return decimal.Decimal(str(value)).quantize(q6, rounding=decimal.ROUND_HALF_UP)

    return q


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
