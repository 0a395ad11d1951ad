"""Scalar-function kit queries (SURVEY.md §2.8, F1–F16): each bundles
related reference scalar behaviors into one oracle-checked projection.
Everything is a JVM-side built-in expression — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.functions.scalar import (
    dec6,
    dec6_sql,
    extract_price,
    is_email,
    is_http_url,
    md5_int_sql,
    money,
    money_cents,
    money_cents_sql,
    money_sql,
    surrogate_sku,
)
from sales_agent_graphdb_spark.registry import register


@register(
    "f2_f3_price_and_surrogate",
    oracle=f"""
    SELECT p_partkey AS id,
           'was 1,099.99 now ' || CAST({money_sql("p_retailprice")} AS VARCHAR) AS messy,
           CAST(replace(regexp_extract('was 1,099.99 now ' || CAST({money_sql("p_retailprice")} AS VARCHAR),
                        '([0-9][0-9,]*(\\.[0-9]+)?)$', 1), ',', '') AS DOUBLE) AS extracted_price,
           'GEN-' || upper(substr(md5(lower(p_name)), 1, 8)) AS gen_sku
    FROM part ORDER BY id
    """,
)
def f2_f3_price_and_surrogate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — last-number price extraction from a messy string (reference
    product_scraper.py:51-69); F3 — GEN-{md5[:8]} surrogate sku
    (product_scraper.py:136-138). The messy string is synthesized
    deterministically from p_retailprice."""
    p = catalog.load_table(spark, sf_dir, "part")
    messy = F.concat(
        F.lit("was 1,099.99 now "),
        money("p_retailprice").cast("string"),
    )
    return (
        p.select(
            F.col("p_partkey").alias("id"),
            messy.alias("messy"),
            extract_price(messy).alias("extracted_price"),
            surrogate_sku("p_name").alias("gen_sku"),
        )
        .orderBy("id")
    )


@register(
    "f4_f5_dates_numbers",
    oracle=f"""
    SELECT o_orderkey AS id,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST({money_sql("o_totalprice")} AS VARCHAR) AS amount_str
    FROM orders ORDER BY id LIMIT 1000
    """,
)
def f4_f5_dates_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 — strftime date formatting (reference agent_graph.py:354);
    F5 — 2-decimal money formatting (agent_graph.py:355, via exact
    DECIMAL render so both engines emit identical strings)."""
    o = catalog.load_table(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .limit(1000)
        .select(
            F.col("o_orderkey").alias("id"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            money("o_totalprice").cast("string").alias("amount_str"),
        )
    )


@register(
    "f6_f8_f9_text_kit",
    oracle=f"""
    SELECT p_partkey AS id,
           split_part(p_name, ' ', 1) AS first_word,
           split_part(p_name, ' ', 2) AS second_word,
           {tk.normalize_alnum_sql("p_name")} AS normalized,
           regexp_extract('Product ''' || p_name || ''' ordered', 'Product ''([^'']+)''', 1) AS between_markers,
           regexp_replace(p_name, ' \\(\\d+\\)$', '') AS counts_stripped
    FROM part ORDER BY id
    """,
)
def f6_f8_f9_text_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 — word tokenization (reference tools.py:56-77); F8 —
    alnum-only normalization (Chat.jsx:225-227); F9 — between-markers
    extraction (agent_graph.py:255-261); F10 — trailing-count strip
    (product_scraper.py:87)."""
    p = catalog.load_table(spark, sf_dir, "part")
    words = F.split(F.col("p_name"), " ")
    marker = F.concat(F.lit("Product '"), F.col("p_name"), F.lit("' ordered"))
    return (
        p.select(
            F.col("p_partkey").alias("id"),
            F.element_at(words, 1).alias("first_word"),
            F.element_at(words, 2).alias("second_word"),
            tk.normalize_alnum(F.col("p_name")).alias("normalized"),
            F.regexp_extract(marker, r"Product '([^']+)'", 1).alias("between_markers"),
            F.regexp_replace(F.col("p_name"), r" \(\d+\)$", "").alias("counts_stripped"),
        )
        .orderBy("id")
    )


@register(
    "f12_f13_json_coalesce",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           COALESCE(NULLIF(CASE WHEN event_id % 3 = 0 THEN '' ELSE event_type END, ''),
                    'unknown') AS content
    FROM events ORDER BY event_id
    """,
)
def f12_f13_json_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 — JSON field access / envelope unwrap (reference
    db_service.py:413-416); F12 — coalesce-first-nonempty content field
    (db_service.py:270), with empty→null normalization."""
    e = catalog.load_table(spark, sf_dir, "events")
    maybe_empty = F.when(F.col("event_id") % 3 == 0, "").otherwise(F.col("event_type"))
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("bigint").alias("k_value"),
            F.coalesce(F.nullif(maybe_empty, F.lit("")), F.lit("unknown")).alias("content"),
        )
        .orderBy("event_id")
    )


@register(
    "f14_f15_validation",
    oracle="""
    SELECT c_custkey AS id,
           (c_custkey || '@x.test' LIKE '%@%') AS valid_email,
           regexp_matches('https://shop.example/c/' || c_custkey, '^https?://') AS valid_url,
           (CASE WHEN c_custkey % 7 = 0 THEN 'ftp://x' ELSE 'https://ok' END
              SIMILAR TO 'https?://.*') AS mixed_url_ok
    FROM customer ORDER BY id
    """,
)
def f14_f15_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14 — email contains-'@' validation (reference admin.py:37-41);
    F15 — http(s) URL prefix validation (tiktok_scraper.py:25-38)."""
    c = catalog.customers(spark, sf_dir)
    url = F.concat(F.lit("https://shop.example/c/"), F.col("id").cast("string"))
    mixed = F.when(F.col("id") % 7 == 0, "ftp://x").otherwise("https://ok")
    return (
        c.select(
            "id",
            is_email("email").alias("valid_email"),
            is_http_url(url).alias("valid_url"),
            is_http_url(mixed).alias("mixed_url_ok"),
        )
        .orderBy("id")
    )


# ---------------------------------------------------------------------------
# Spark 4 semi-structured VARIANT + Python UDTF (the remaining two
# API surfaces of §2.12's UDF matrix next to pandas UDF / mapInPandas /
# applyInPandasWithState / HOFs)
# ---------------------------------------------------------------------------


@register(
    "f16_variant_semistructured",
    oracle=f"""
    WITH x AS (
      SELECT TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k, value
      FROM events)
    SELECT CAST(k // 10 AS INT) AS k_decade,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(k) AS INT) AS k_min, CAST(MAX(k) AS INT) AS k_max,
           CAST(SUM({dec6_sql("value")}) AS DOUBLE) AS total_value
    FROM x GROUP BY 1 ORDER BY k_decade NULLS FIRST
    """,
)
def f16_variant_semistructured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics on the VARIANT type (Spark 4): the
    JSON props column is parsed ONCE into a binary variant
    (`parse_json`) and fields are extracted with typed paths
    (`try_variant_get`) — the open-schema ingestion shape that
    replaces per-query string re-parsing (f12's get_json_object walks
    the JSON text on every extraction; variant parses once and
    navigates an indexed binary encoding, the difference between
    O(fields) and O(len(json)·fields) per row at 100 TB). Grouped
    rollup per k-decade with exact-DECIMAL sums; the oracle extracts
    the same typed field via DuckDB's JSON kit, so the variant path
    is certified against the portable JSON semantics."""
    e = catalog.load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select(k.alias("k"), "value")
        .groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
            F.sum(dec6("value")).cast("double").alias("total_value"),
        )
        .orderBy("k_decade")
    )


_UDTF_DOCS = 20  # bounded slice — same precedent as dedup_ngram_jaccard


@register(
    "udtf_ngram_expand",
    oracle=f"""
    WITH docs AS (SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT {_UDTF_DOCS}),
    toks AS (SELECT doc_id, {tk.ws_tokens_sql()} AS t FROM docs),
    ix AS (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, t[i] || ' ' || t[i + 1] AS ngram
    FROM ix ORDER BY doc_id, pos
    """,
)
def udtf_ngram_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) — the one
    §2.12 Python surface the registry didn't yet exercise: a
    one-row-to-many lateral expansion (bigram + position per
    document) via a LATERAL join against the registered UDTF.

    Honest scale note: a UDTF is row-at-a-time Python — the SLOW path,
    registered here as API-surface proof on a bounded {n}-doc slice
    (the dedup_ngram_jaccard precedent). The production n-gram path is
    the JVM-side HOF pipeline (text_boilerplate_ngrams /
    operators/chunker.py); a UDTF earns its keep only when the
    expansion logic needs arbitrary Python (tokenizers, parsers) and
    even then should be Arrow-enabled and batch-bounded — this one IS
    Arrow-enabled (useArrow=True: rows cross the Python boundary as
    Arrow batches, the plan node stays the UDTF lateral)."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="ngram: string, pos: int", useArrow=True)
    class BigramUDTF:
        def eval(self, text: str):  # noqa: ANN001
            toks = (text or "").split()
            for i in range(len(toks) - 1):
                yield (toks[i] + " " + toks[i + 1], i)

    spark.udtf.register("bigram_udtf", BigramUDTF)
    d = catalog.load_table(spark, sf_dir, "documents")
    d.orderBy("doc_id").limit(_UDTF_DOCS).createOrReplaceTempView(
        "_udtf_docs"
    )
    out = spark.sql(
        "SELECT d.doc_id, g.pos, g.ngram "
        "FROM _udtf_docs d, LATERAL bigram_udtf(d.text) g "
        "ORDER BY d.doc_id, g.pos"
    )
    return out.select("doc_id", "pos", "ngram")


udtf_ngram_expand.__doc__ = udtf_ngram_expand.__doc__.format(n=_UDTF_DOCS)


@register(
    "f17_try_arithmetic",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity % 5 = 0 THEN NULL
                ELSE CAST(l_extendedprice AS DOUBLE)
                     / CAST(l_quantity % 5 AS DOUBLE) END AS safe_div,
           TRY_CAST(CAST(9223372036854775800 AS HUGEINT)
                    + CAST(l_quantity AS BIGINT) AS BIGINT) AS safe_add,
           TRY_CAST(CASE WHEN l_linenumber % 2 = 0 THEN 'x'
                         ELSE CAST(l_orderkey AS VARCHAR) END AS INT) AS safe_int
    FROM lineitem WHERE l_orderkey <= 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def f17_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe (try_*) arithmetic — the error-tolerant scalar family a
    100 TB ingest pipeline needs so one malformed row NULLs instead of
    killing a 6-hour job: try_divide (planted zero denominators via
    quantity%5), try_add (planted BIGINT overflow: 2^63-8 + quantity
    overflows for quantity > 7), try_to_number (planted non-numeric
    strings against an explicit format — the stricter cousin of
    try_cast, NULL on parse failure). Row-level oracle: DuckDB lacks
    try_add/try_divide/try_to_number, so
    the oracle states the SEMANTICS — guarded CASE for the division,
    HUGEINT-widened addition re-narrowed via TRY_CAST for the
    overflow — and the hash certifies Spark's try_* kit returns NULL
    at exactly the planted failure rows and bit-identical values
    elsewhere."""
    e = catalog.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") <= 100
    )
    return e.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(
            F.col("l_extendedprice").cast("double"),
            (F.col("l_quantity") % 5).cast("double"),
        ).alias("safe_div"),
        F.try_add(
            F.lit(9223372036854775800), F.col("l_quantity").cast("long")
        ).alias("safe_add"),
        F.try_to_number(
            F.when(F.col("l_linenumber") % 2 == 0, F.lit("x")).otherwise(
                F.col("l_orderkey").cast("string")
            ),
            F.lit("999999999"),
        )
        .cast("int")
        .alias("safe_int"),
    ).orderBy("l_orderkey", "l_linenumber")


_F18_SQL = """
    WITH mixed AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg
      FROM {cust})
    SELECT lower(seg) AS segment, CAST(COUNT(*) AS BIGINT) AS n
    FROM mixed
    WHERE seg COLLATE UTF8_LCASE = 'Building'
       OR seg COLLATE UTF8_LCASE >= 'HOUSEHOLD'
    GROUP BY lower(seg) ORDER BY segment
"""


@register(
    "f18_collation_compare",
    oracle="""
    WITH mixed AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
                  ELSE lower(c_mktsegment) END AS seg
      FROM customer)
    SELECT lower(seg) AS segment, CAST(COUNT(*) AS BIGINT) AS n
    FROM mixed
    WHERE lower(seg) = lower('Building') OR lower(seg) >= lower('HOUSEHOLD')
    GROUP BY lower(seg) ORDER BY segment
    """,
)
def f18_collation_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String COLLATION (Spark 4): case-insensitive equality AND range
    comparison via `COLLATE UTF8_LCASE` over a planted mixed-case
    column — the declarative form of the lower()-everywhere idiom
    (which the oracle states, certifying the two are equivalent).
    Collation matters at 100 TB because the collated comparison keeps
    the ORIGINAL bytes (no materialized lower() copy of a string
    column) and collation-aware hashing lets joins/groups on collated
    keys shuffle correctly — here the filter feeds a case-merged
    group count, so a collation bug splits or drops groups and the
    hash goes red. The group key is projected through lower() so the
    output representative is deterministic on both engines."""
    catalog.load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "f18_customer"
    )
    return spark.sql(_F18_SQL.format(cust="f18_customer"))


@register(
    "f19_url_parse",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || lang
               || '/' || CAST(doc_id AS VARCHAR) || '?ref=scraper&lang='
               || lang AS url
      FROM documents),
    parsed AS (
      SELECT doc_id,
             regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
             regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
             regexp_extract(url, 'lang=([^&]*)', 1) AS lang_param
      FROM urls)
    SELECT host,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang_param) AS BIGINT) AS n_langs,
           MIN(path) AS sample_path
    FROM parsed GROUP BY host ORDER BY host
    """,
)
def f19_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19 — URL decomposition (the scraper-ingest kit S7/S8 feeds
    from): HOST / PATH / query-parameter extraction via Spark's
    built-in ``parse_url`` (JVM, codegen — the URL never crosses to
    Python), rolled up per host. DuckDB lacks parse_url, so the
    oracle replays RFC-shaped regexes — passing certifies Spark's
    parser agrees with the explicit grammar on this URL shape. URLs
    are synthesized deterministically from document fields (the
    testdata carries no raw URLs; the synthesis IS the scraper-landing
    shape: source-keyed host, lang/doc path, tracking query)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=scraper&lang="),
        F.col("lang"),
    )
    parsed = d.select(
        "doc_id",
        F.parse_url(url, F.lit("HOST")).alias("host"),
        F.parse_url(url, F.lit("PATH")).alias("path"),
        F.parse_url(url, F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    return (
        parsed.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang_param").alias("n_langs"),
            F.min("path").alias("sample_path"),
        )
        .orderBy("host")
    )


@register(
    "udaf_grouped_pandas_median",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(value, 0.5) AS median_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def udaf_grouped_pandas_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED-AGGREGATE pandas UDF (the UDF-surface class the
    scalar/iterator/mapInPandas/UDTF queries don't touch): a
    ``pandas_udf`` returning one scalar per GROUP, fed whole-group
    Arrow batches — here np.median, whose sort-then-pick is
    order-insensitive, so the distributed shuffle order can't move the
    result and DuckDB's quantile_cont(0.5) (same mean-of-middle-two
    rule on even counts, identical doubles) hash-matches it.

    Scale honesty: a grouped-agg pandas UDF has NO partial
    aggregation — Spark shuffles every raw row to its group before the
    UDF sees it (the plan is ObjectHashAggregate over the full rows),
    so it is the right tool ONLY for genuinely non-decomposable
    aggregates like exact quantiles; anything sum-shaped belongs in
    built-ins (a2/a1) or pandas-free sketches. The per-group Arrow
    batch must fit one executor's memory — at 100 TB that means
    salting or pre-bucketing ultra-hot groups first (join_salted_*),
    or switching to approx_percentile. Stated here because this query
    IS the registered proof of the API class, not a recommended
    aggregation path."""
    import numpy as np

    # functionType passed explicitly: the module's `from __future__
    # import annotations` stringifies signatures, so pandas_udf cannot
    # infer GROUPED_AGG from the (Series) -> float annotation.
    from pyspark.sql.functions import PandasUDFType

    @F.pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def np_median(v):
        return float(np.median(v.to_numpy()))

    # grouped-agg UDFs cannot mix with non-pandas aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT), so the count is a second
    # pandas aggregate over the same group batch.
    @F.pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def pd_count(v):
        return int(len(v))

    ev = catalog.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            pd_count(F.col("value")).alias("n"),
            np_median(F.col("value")).alias("median_value"),
        )
        .orderBy("event_type")
    )


@register(
    "udf_scalar_iter_embed",
    oracle=f"""
    SELECT doc_id,
           CAST(({md5_int_sql("'m1:' || text", hex_digits=8)} % 1000) AS DOUBLE)
             / 1000.0 AS score
    FROM documents ORDER BY doc_id
    """,
)
def udf_scalar_iter_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATOR-form scalar pandas UDF (SCALAR_ITER — the last UDF
    API class in the surface matrix: scalar / this / grouped-agg /
    mapInPandas / applyInPandasWithState / UDTF): the function
    receives an ITERATOR of Arrow batches, so expensive per-worker
    setup (loading a model, opening a tokenizer) runs ONCE per task
    before the batch loop instead of once per batch — the API real
    model-scoring pipelines use. Here the 'model' is a deterministic
    md5 scorer whose version string is bound at init (the part a real
    pipeline loads from disk), so the oracle replays the scoring
    exactly and the hash certifies the batch loop fed every row
    through the initialized state."""
    import pandas as pd

    from pyspark.sql.functions import PandasUDFType

    @F.pandas_udf("double", PandasUDFType.SCALAR_ITER)
    def score_iter(batches):
        import hashlib

        model_version = "m1"  # per-worker init: runs once per task

        for texts in batches:
            yield texts.map(
                lambda t: (
                    int(
                        hashlib.md5(f"{model_version}:{t}".encode()).hexdigest()[:8],
                        16,
                    )
                    % 1000
                )
                / 1000.0
            )

    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select("doc_id", score_iter(F.col("text")).alias("score")).orderBy(
        "doc_id"
    )


@register(
    "udf_apply_in_pandas_iqr",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(value, 0.25), 6) AS q1,
           ROUND(quantile_cont(value, 0.75), 6) AS q3,
           ROUND(quantile_cont(value, 0.75) - quantile_cont(value, 0.25), 6)
             AS iqr
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def udf_apply_in_pandas_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ``applyInPandas`` (FlatMapGroupsInPandas — the grouped-MAP
    class: whole group in, arbitrary frame out; its stateful streaming
    sibling applyInPandasWithState runs the st_stream_* sessions):
    per-group quartiles + IQR via np.percentile, the robust-spread
    profile a per-entity model fit starts from. np.percentile sorts
    internally and linearly interpolates — ORDER-INSENSITIVE, exactly
    DuckDB's quantile_cont, so the hash certifies the whole grouped
    Arrow round trip (the same reason udaf_grouped_pandas_median uses
    a sort-based statistic; a running float sum here would be
    shuffle-order-dependent and unverifiable).

    Scale honesty: like the grouped-agg UDF, there is NO partial
    aggregation — each group's rows land wholesale on one executor as
    Arrow batches; right for non-decomposable per-group computation
    (model fits, exact quantiles), wrong for anything sum-shaped, and
    hot groups need salting or approx_percentile first."""
    import numpy as np
    import pandas as pd

    ev = catalog.load_table(spark, sf_dir, "events").select("event_type", "value")

    def iqr(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = pdf["value"].to_numpy()
        q1 = float(np.percentile(v, 25))
        q3 = float(np.percentile(v, 75))
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(v)],
                "q1": [round(q1, 6)],
                "q3": [round(q3, 6)],
                "iqr": [round(q3 - q1, 6)],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInPandas(
            iqr, schema="event_type string, n long, q1 double, q3 double, iqr double"
        )
        .orderBy("event_type")
    )


@register(
    "udf_map_in_arrow_sig",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(md5(text), 1, 16) AS sig
    FROM documents ORDER BY doc_id
    """,
)
def udf_map_in_arrow_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the LOWEST-level Python batch API: raw pyarrow
    RecordBatches in and out, no pandas conversion at all (the path
    for libraries that speak Arrow natively — tokenizers, image
    decoders, DuckDB itself — where a pandas hop would copy every
    payload). Per-document byte length + md5 signature computed from
    the Arrow buffers; the oracle recomputes both from the text, so
    the hash certifies the RecordBatch round trip byte-for-byte (the
    pandas-hop twin is mm_arrow_fidelity_probe). Completes the Python
    boundary matrix: scalar / scalar-iter / grouped-agg / grouped-map
    / mapInPandas / mapInArrow / UDTF / applyInPandasWithState."""
    import hashlib

    import pyarrow as pa

    d = catalog.load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def sig_batches(batches):
        for batch in batches:
            ids = batch.column("doc_id")
            texts = batch.column("text").to_pylist()
            raw = [t.encode("utf-8") for t in texts]
            yield pa.RecordBatch.from_arrays(
                [
                    ids,
                    pa.array([len(b) for b in raw], pa.int64()),
                    pa.array(
                        [hashlib.md5(b).hexdigest()[:16] for b in raw], pa.string()
                    ),
                ],
                names=["doc_id", "n_bytes", "sig"],
            )

    return d.mapInArrow(
        sig_batches, schema="doc_id long, n_bytes long, sig string"
    ).orderBy("doc_id")


@register(
    "f20_higher_order_kit",
    oracle=f"""
    WITH lo AS (
      SELECT l_orderkey,
             list(CAST(l_quantity AS BIGINT)
                  ORDER BY l_linenumber,
                           CAST(l_quantity AS BIGINT),
                           {money_cents_sql("l_extendedprice")}) AS qs
      FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey),
    qp AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(l_quantity AS BIGINT)
                      * {money_cents_sql("l_extendedprice")}) AS BIGINT) AS qp_sum
      FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey)
    SELECT lo.l_orderkey AS okey,
           CAST(len(qs) AS INT) AS n_items,
           CAST(len(list_filter(qs, x -> x >= 30)) AS INT) AS n_big,
           len(list_filter(qs, x -> x >= 50)) > 0 AS has_max_qty,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qs),
                            (a, x) -> a + x) AS BIGINT) AS qty_sum,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), qs),
                            (a, x) -> (a * 31 + x) % 2147483648)
                AS BIGINT) AS qty_hash,
           qp.qp_sum
    FROM lo JOIN qp ON qp.l_orderkey = lo.l_orderkey
    ORDER BY okey
    """,
)
def f20_higher_order_kit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F20 — the HIGHER-ORDER FUNCTION surface in one certified pass:
    transform / filter / exists / aggregate(fold) / zip_with over a
    per-order array (quantities in l_linenumber order). These are the
    lambdas that keep array logic INSIDE whole-stage codegen — the
    alternative is explode → regroup (an exchange) or a Python UDF
    (the slow boundary); at 100 TB an in-row lambda over a basket
    array is free, the explode costs a corpus-sized shuffle.
    Every output is integer/boolean so the fold is hash-exact:
    qty_hash is a base-31 LEFT fold mod 2^31 (modular so 12-line
    orders cannot overflow BIGINT — Spark would wrap silently where
    DuckDB raises) — order-sensitive BY DESIGN to
    certify both engines fold in identical list order (DuckDB
    list_reduce seeds with the first element, so the oracle prepends
    the same 0 the Spark aggregate() uses as init); qp_sum pairs
    quantities with integer price-cents via zip_with and folds —
    mirrored in the oracle as the plain per-row SUM it must equal."""
    li = catalog.load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 2000
    )
    cents = money_cents("l_extendedprice")
    # ONE sorted struct array feeds both projections: (ln, q, p) is a
    # TOTAL order (the synthetic data duplicates l_linenumber within
    # an order — measured 11,785 dup pairs at sf0.01 — so ln alone
    # under-specifies the fold order and zip pairing; q and p break
    # the ties identically on both engines).
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_quantity").cast("bigint").alias("q"),
                cents.alias("p"),
            )
        )
    )
    lo = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.transform(arr, lambda s: s["q"]).alias("qs"),
        F.transform(arr, lambda s: s["p"]).alias("ps"),
    )
    fold_sum = F.aggregate(
        F.col("qs"), F.lit(0).cast("bigint"), lambda a, x: a + x
    )
    fold_hash = F.aggregate(
        F.col("qs"),
        F.lit(0).cast("bigint"),
        lambda a, x: (a * 31 + x) % F.lit(2147483648),
    )
    qp = F.aggregate(
        F.zip_with(F.col("qs"), F.col("ps"), lambda q, p: q * p),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return lo.select(
        "okey",
        F.size("qs").alias("n_items"),
        F.size(F.filter(F.col("qs"), lambda x: x >= 30)).alias("n_big"),
        F.exists(F.col("qs"), lambda x: x >= 50).alias("has_max_qty"),
        fold_sum.alias("qty_sum"),
        fold_hash.alias("qty_hash"),
        qp.alias("qp_sum"),
    ).orderBy("okey")
