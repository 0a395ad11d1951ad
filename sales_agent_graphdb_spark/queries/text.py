"""Text-analysis pipeline operators over the documents table — the
training-data-pipeline extension surface (language ID, quality scoring,
token counting, fingerprinting, chunking). All JVM-side expressions;
each is oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import (
    dec6,
    dec6_sql,
    hex_int,
    hex_int_sql,
    md5_int,
    md5_int_sql,
)
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.operators.chunker import chunk_documents, duckdb_chunk_sql
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic tie-break: first language in this order wins.
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un"],
    "fr": ["le", "la", "et", "les", "des", "un", "une"],
    "zh": ["的", "是", "不", "了", "在", "人", "有"],
}


def _stopword_hits(toks: Column, lang: str = "en") -> Column:
    return F.size(F.filter(toks, lambda w: w.isin(*LANG_STOPWORDS[lang])))


def _stopword_hits_sql(toks: str = "toks", lang: str = "en") -> str:
    words = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({toks}, w -> w IN ({words})))"


CHUNK_SIZE, CHUNK_OVERLAP = 120, 20  # docs are 48-553 chars; reference
# constants are 1000/200 (db_service.py:209-212) — same operator,
# smaller size so the testdata actually splits.


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len({tk.ws_tokens_sql()}) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_actual,
           CAST(length(replace(text, ' ', '')) AS INT) AS n_nonspace
    FROM documents ORDER BY doc_id
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace tokenizer) + char counts — the
    unit-economics columns of a training-data pipeline."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tk.ws_tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").cast("int").alias("n_chars_actual"),
        F.length(F.regexp_replace("text", " ", "")).cast("int").alias("n_nonspace"),
    ).orderBy("doc_id")


_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]{1,3}| ?[^A-Za-z0-9\s]+|\s+"


@register(
    "text_bpe_token_estimate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS INT) AS n_bpe_pieces,
           CAST(ceil(length(text) / 4.0) AS INT) AS n_chars_div4
    FROM documents ORDER BY doc_id
    """,
)
def text_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex
    (space-prefixed letter runs / short digit runs / punctuation runs /
    whitespace) counts merge-candidate pieces, plus the crude chars/4
    estimate — both pure JVM regex, no tokenizer library."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PATTERN), 0)).alias("n_bpe_pieces"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("n_chars_div4"),
    ).orderBy("doc_id")


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {tk.ws_tokens_sql()} AS toks,
             length(text) AS n
      FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(n AS DOUBLE) / len(toks) AS avg_token_len,
           CAST({_stopword_hits_sql()} AS DOUBLE) / len(toks) AS stopword_ratio,
           (len(toks) BETWEEN 5 AND 1000) AND
             (CAST({_stopword_hits_sql()} AS DOUBLE) / len(toks) > 0.01) AS passes_quality
    FROM t ORDER BY doc_id
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length / stopword-ratio heuristics (the
    C4/Gopher-style filter family) as pure column math."""
    d = catalog.load_table(spark, sf_dir, "documents")
    # Materialize the token array in its OWN projection: four consumer
    # columns below would otherwise each re-run the trim+regex split
    # after CollapseProject (the text_boilerplate_ngrams trap).
    base = d.select(
        "doc_id",
        F.length("text").alias("_len"),
        tk.ws_tokens(F.col("text")).alias("toks"),
    )
    n_tokens = F.size("toks")
    stop_ratio = _stopword_hits(F.col("toks")).cast("double") / n_tokens
    return base.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        (F.col("_len").cast("double") / n_tokens).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        (n_tokens.between(5, 1000) & (stop_ratio > 0.01)).alias("passes_quality"),
    ).orderBy("doc_id")


def _lang_scores(toks: Column) -> dict[str, Column]:
    return {lang: _stopword_hits(toks, lang) for lang in LANG_STOPWORDS}


@register(
    "text_langid",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, {tk.ws_tokens_sql("lower(text)")} AS toks FROM documents),
    s AS (
      SELECT doc_id, lang,
             {", ".join(f"{_stopword_hits_sql(lang=g)} AS s_{g}" for g in LANG_STOPWORDS)}
      FROM t)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
                WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS predicted_lang
    FROM s ORDER BY doc_id
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-hit scoring with a deterministic
    priority tie-break (en > de > es > fr > zh)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    toks = tk.ws_tokens(F.lower(F.col("text")))
    s = _lang_scores(toks)
    predicted = (
        F.when(s["en"] >= F.greatest(s["de"], s["es"], s["fr"], s["zh"]), "en")
        .when(s["de"] >= F.greatest(s["es"], s["fr"], s["zh"]), "de")
        .when(s["es"] >= F.greatest(s["fr"], s["zh"]), "es")
        .when(s["fr"] >= s["zh"], "fr")
        .otherwise("zh")
    )
    return d.select(
        "doc_id", F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang")
    ).orderBy("doc_id")


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {tk.content_fp_sql()} AS fingerprint,
           {md5_int_sql(tk.normalize_alnum_sql())} % 1024 AS shard
    FROM documents ORDER BY doc_id
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over alnum-normalized content +
    a derived shard bucket (the distribution key a 100 TB dedup would
    partition on)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tk.content_fp(F.col("text")).alias("fingerprint"),
        (md5_int(tk.normalize_alnum(F.col("text"))) % 1024).alias("shard"),
    ).orderBy("doc_id")


@register(
    "f11_chunk_documents",
    oracle=duckdb_chunk_sql(CHUNK_SIZE, CHUNK_OVERLAP) + " ORDER BY doc_id, chunk_idx",
)
def f11_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 — the 1000/200 chunker (reference db_service.py:209-212) as
    sequence→transform→explode; run at 120/20 so sf-testdata documents
    actually split. chunk_id surrogate column is dropped here so the
    oracle compares the pure chunking function."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return (
        chunk_documents(d, size=CHUNK_SIZE, overlap=CHUNK_OVERLAP)
        .select("doc_id", "chunk_idx", "chunk_text")
        .orderBy("doc_id", "chunk_idx")
    )


@register(
    "text_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tk.alnum_tokens_sql()} AS w FROM documents),
    grams AS (SELECT doc_id, {tk.word_ngrams_sql("w", 3)} AS gs FROM toks),
    flat AS (SELECT DISTINCT doc_id, unnest(gs) AS gram FROM grams)
    SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM flat GROUP BY gram HAVING COUNT(*) >= 3
    ORDER BY n_docs DESC, gram
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: word 3-grams appearing in >= 3 distinct
    documents (the corpus-frequency pass behind template/boilerplate
    removal in training-data pipelines — find repeated spans first,
    strip or down-weight them second). Scale shape: one explode of
    per-doc gram arrays into (doc_id, gram) rows, distinct, then a
    count per gram — two map-side-combinable shuffles on short string
    keys; no pairwise comparison anywhere. At 100 TB the HAVING
    threshold prunes the long unique-gram tail before it ever leaves
    the partial aggregation."""
    d = catalog.load_table(spark, sf_dir, "documents")
    # Materialize the token array as its own projection: referencing the
    # split expression inline would duplicate the regex+split into every
    # element_at inside the transform lambda (Catalyst's CollapseProject
    # keeps a non-cheap expr referenced more than once in its own
    # Project, but only if we alias it) — measured 22x slower inlined.
    d = d.select("doc_id", tk.alnum_tokens(F.col("text")).alias("w"))
    flat = d.select(
        "doc_id", F.explode(tk.word_ngrams(F.col("w"), 3)).alias("gram")
    ).distinct()
    return (
        flat.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), "gram")
    )


# Deterministic planted PII: every 7th document gets an email, every
# 11th a phone number, appended to its text. Mirrored in the oracle so
# the scrub has real targets (raw testdata contains none).
_PII_EMAIL = " contact bob.smith+spam@example-mail.org for details"
_PII_PHONE = " call +1 (415) 555-0137 now"
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9() \-]{6,}[0-9]"
# SQL-literal forms: DuckDB single-quoted strings pass backslashes
# through verbatim (no escape processing), so the Python regex strings
# are already the SQL literals. Bound to names outside the f-string
# (f-string expressions cannot contain backslashes on 3.11).
_EMAIL_RE_SQL = _EMAIL_RE
_PHONE_RE_SQL = _PHONE_RE


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text
               || CASE WHEN doc_id % 7 = 0 THEN '{_PII_EMAIL}' ELSE '' END
               || CASE WHEN doc_id % 11 = 0 THEN '{_PII_PHONE}' ELSE '' END AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
             '{_EMAIL_RE_SQL}', '[EMAIL]', 'g'),
             '{_PHONE_RE_SQL}', '[PHONE]', 'g') AS scrubbed,
           CAST(length(text) - length(regexp_replace(text, '{_EMAIL_RE_SQL}', '', 'g')) > 0 AS BOOLEAN) AS had_email,
           CAST(length(text) - length(regexp_replace(text, '{_PHONE_RE_SQL}', '', 'g')) > 0 AS BOOLEAN) AS had_phone
    FROM planted ORDER BY doc_id
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: regex redaction of emails and phone numbers (the
    compliance pass of a training-data pipeline), plus per-doc flags.
    Pure JVM regexp_replace — whole-stage codegen, no UDF. Targets are
    deterministically planted (raw testdata has none) so the check is
    non-vacuous; the oracle plants identically."""
    d = catalog.load_table(spark, sf_dir, "documents")
    planted = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0, F.lit(_PII_EMAIL)).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit(_PII_PHONE)).otherwise(F.lit("")),
    )
    t = planted
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(t, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
        ).alias("scrubbed"),
        (F.length(t) - F.length(F.regexp_replace(t, _EMAIL_RE, "")) > 0).alias("had_email"),
        (F.length(t) - F.length(F.regexp_replace(t, _PHONE_RE, "")) > 0).alias("had_phone"),
    ).orderBy("doc_id")


# --- end-to-end curation composition -------------------------------------
from sales_agent_graphdb_spark.queries.dedup import _CORPUS_SQL, dup_corpus  # noqa: E402


@register(
    "pipeline_curate_corpus",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    q AS (
      SELECT doc_id, text,
             len({tk.ws_tokens_sql()}) AS n_tokens,
             CAST({_stopword_hits_sql(tk.ws_tokens_sql())} AS DOUBLE)
               / len({tk.ws_tokens_sql()}) AS stop_ratio,
             {tk.content_fp_sql()} AS fp
      FROM corpus),
    kept AS (
      SELECT * FROM q
      WHERE n_tokens BETWEEN 5 AND 1000 AND stop_ratio > 0.01),
    deduped AS (
      SELECT fp, MIN(doc_id) AS doc_id, MIN(n_tokens) AS n_tokens
      FROM kept GROUP BY fp)
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CASE WHEN {hex_int_sql("fp")} % 100 < 90
                THEN 'train' ELSE 'val' END AS split
    FROM deduped ORDER BY doc_id
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation — the C4-style composition a
    training-data pipeline actually runs, as ONE declarative plan:
    (1) quality filter (length + stopword-ratio heuristics), (2) exact
    dedup (min doc_id per normalized-content md5; the planted-dup
    corpus makes this stage non-vacuous), (3) deterministic train/val
    split by content-hash shard (md5-derived, engine-portable — NOT
    xxhash, so the DuckDB oracle reproduces it bit-for-bit; content
    hashing also means the split is stable under re-ingestion and
    corpus growth, unlike row-number sampling). Entirely JVM column
    math: filter → groupBy → projection, two map-side-combinable
    shuffles, no UDF, no collect."""
    corpus = dup_corpus(spark, sf_dir)
    # Token array in its own projection (see text_quality_score).
    base = corpus.select(
        "doc_id",
        tk.ws_tokens(F.col("text")).alias("toks"),
        tk.content_fp(F.col("text")).alias("fp"),
    )
    n_tokens = F.size("toks")
    stop_ratio = _stopword_hits(F.col("toks")).cast("double") / n_tokens
    kept = base.select(
        "doc_id", n_tokens.alias("n_tokens"), stop_ratio.alias("stop_ratio"), "fp",
    ).filter(F.col("n_tokens").between(5, 1000) & (F.col("stop_ratio") > 0.01))
    deduped = kept.groupBy("fp").agg(
        F.min("doc_id").alias("doc_id"), F.min("n_tokens").alias("n_tokens")
    )
    shard = hex_int(F.col("fp")) % 100
    return deduped.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.when(shard < 90, "train").otherwise("val").alias("split"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Ranked retrieval (BM25) — extends the G6 fulltext family from boolean
# fuzzy match to scored ranking (what the reference's Lucene index does
# under the hood for `queryNodes` relevance ordering,
# neo4j_service.py:71,107).
# ---------------------------------------------------------------------------

from sales_agent_graphdb_spark.operators.fulltext import (  # noqa: E402
    bm25_rank,
    duckdb_bm25_sql,
)

_BM25_TERMS = ["vector", "stream"]


_BM25_PHRASE_TERMS = ["vector", "table hash"]


@register(
    "text_bm25_phrase",
    oracle=duckdb_bm25_sql(_BM25_PHRASE_TERMS, k=10, ngrams=2),
)
def text_bm25_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi-BM25 top-10 for a MIXED unigram + quoted-phrase query
    ("table hash" must match adjacent words): the posting stream
    carries word 2-grams next to unigrams (the shingle-index phrase
    approximation — exact adjacency, no position lists), scored by the
    same rational-idf BM25 and summed in fixed column order. Document
    length stays the unigram count, so adding the phrase index never
    changes unigram scores. Reference parity: the Lucene fulltext
    index the reference queries supports quoted phrases
    (neo4j_service.py:71); this is that capability over documents."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return bm25_rank(d.select("doc_id", "text"), _BM25_PHRASE_TERMS, k=10, ngrams=2)


@register("text_bm25_search", oracle=duckdb_bm25_sql(_BM25_TERMS, k=10))
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi-BM25 top-10 over documents for a two-term query. Rational
    idf (no ln → bit-exact across engines); per-term scores summed in
    fixed column order; df/corpus-stats broadcast; top-k via
    TakeOrderedAndProject. See operators/fulltext.py:bm25_rank for the
    100 TB inverted-index layout."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return bm25_rank(d.select("doc_id", "text"), _BM25_TERMS, k=10)


# ---------------------------------------------------------------------------
# Gopher-style repetition gate — the n-gram repetition half of the
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models"):
# top-2-gram character fraction + duplicate-3-gram fraction + word-shape
# bounds, per document. Complements text_quality_score (length /
# stopword rules) so the quality family covers both rule classes.
# ---------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

_GOPHER_ORACLE = f"""
WITH toks AS (SELECT doc_id, {tk.ws_tokens_sql()} AS t FROM documents),
base AS (
  SELECT doc_id, CAST(len(t) AS INT) AS n_words,
         CAST(list_aggregate(list_transform(t, x -> length(x)), 'sum') AS BIGINT)
           AS word_chars
  FROM toks),
bgx AS (SELECT doc_id, unnest({tk.word_ngrams_sql("t", 2)}) AS g FROM toks),
bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bgx GROUP BY doc_id, g),
topb AS (
  SELECT doc_id, g, c FROM bgc
  QUALIFY row_number() OVER (
    PARTITION BY doc_id ORDER BY c DESC, length(g) DESC, g) = 1),
trix AS (SELECT doc_id, unnest({tk.word_ngrams_sql("t", 3)}) AS g FROM toks),
tris AS (
  SELECT doc_id, COUNT(*) AS n_tri, COUNT(DISTINCT g) AS n_tri_d
  FROM trix GROUP BY doc_id),
final AS (
  SELECT b.doc_id, b.n_words,
         CAST(b.word_chars AS DOUBLE) / b.n_words AS mean_word_len,
         COALESCE(t.g, '') AS top_bigram,
         COALESCE(CAST(t.c * length(replace(t.g, ' ', '')) AS DOUBLE)
                  / b.word_chars, 0.0) AS top_bigram_frac,
         COALESCE(CAST(s.n_tri - s.n_tri_d AS DOUBLE) / s.n_tri, 0.0)
           AS dup_trigram_frac
  FROM base b LEFT JOIN topb t USING (doc_id) LEFT JOIN tris s USING (doc_id))
SELECT *,
       (n_words BETWEEN 5 AND 1000 AND mean_word_len BETWEEN 2.0 AND 12.0
        AND top_bigram_frac < 0.2 AND dup_trigram_frac < 0.5) AS keep
FROM final ORDER BY doc_id
"""


@register("text_gopher_repetition", oracle=_GOPHER_ORACLE)
def text_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition rules: fraction of word-characters in
    the most common 2-gram, duplicate-3-gram fraction, mean word
    length, plus a combined keep flag. Every fraction is a single
    int/int division (bit-exact across engines); the top-bigram
    tie-break is (count DESC, length DESC, bigram ASC), deterministic
    on both sides.

    Scale: tokens are materialized ONCE per row (the inline-split
    re-evaluation trap measured 22x in text_boilerplate_ngrams); the
    two explode->groupBy legs are map-side combinable on
    high-cardinality (doc_id, gram) keys; the top-bigram window is
    partitioned by doc_id (never global); the three legs re-join on
    doc_id. No corpus-global state, so the plan shards linearly at
    100 TB."""
    d = catalog.load_table(spark, sf_dir, "documents")
    # Eager: the word-stats, bigram and trigram leaf stages read it concurrently.
    toks = materialize(d.select("doc_id", tk.ws_tokens(F.col("text")).alias("t")), eager=True)
    base = toks.select(
        "doc_id",
        F.size("t").cast("int").alias("n_words"),
        F.aggregate(
            "t", F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        ).alias("word_chars"),
    )
    # Bigram and trigram legs share ONE explode + ONE (doc_id, n, g)
    # count shuffle (tagged by gram order n); the per-leg frames are
    # then cheap filters of the combined counts — half the gram
    # shuffle volume of separate legs.
    grams = toks.select(
        "doc_id",
        F.explode(
            F.concat(
                F.transform(tk.word_ngrams(F.col("t"), 2), lambda g: F.struct(F.lit(2).alias("n"), g.alias("g"))),
                F.transform(tk.word_ngrams(F.col("t"), 3), lambda g: F.struct(F.lit(3).alias("n"), g.alias("g"))),
            )
        ).alias("p"),
    ).select("doc_id", "p.n", "p.g")
    # Eager: the top-bigram and trigram legs below read it concurrently.
    gc = materialize(
        grams.groupBy("doc_id", "n", "g").agg(F.count(F.lit(1)).alias("c")), eager=True
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("c"), F.desc(F.length("g")), F.asc("g")
    )
    topb = (
        gc.filter(F.col("n") == 2)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("doc_id", "g", "c")
    )
    tris = (
        gc.filter(F.col("n") == 3)
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tri"),
            F.count(F.lit(1)).alias("n_tri_d"),
        )
    )
    final = (
        base.join(topb, "doc_id", "left")
        .join(tris, "doc_id", "left")
        .select(
            "doc_id",
            "n_words",
            (F.col("word_chars").cast("double") / F.col("n_words")).alias(
                "mean_word_len"
            ),
            F.coalesce(F.col("g"), F.lit("")).alias("top_bigram"),
            F.coalesce(
                (F.col("c") * F.length(F.regexp_replace("g", " ", ""))).cast(
                    "double"
                )
                / F.col("word_chars"),
                F.lit(0.0),
            ).alias("top_bigram_frac"),
            F.coalesce(
                (F.col("n_tri") - F.col("n_tri_d")).cast("double")
                / F.col("n_tri"),
                F.lit(0.0),
            ).alias("dup_trigram_frac"),
        )
    )
    return final.withColumn(
        "keep",
        F.col("n_words").between(5, 1000)
        & F.col("mean_word_len").between(2.0, 12.0)
        & (F.col("top_bigram_frac") < 0.2)
        & (F.col("dup_trigram_frac") < 0.5),
    ).orderBy("doc_id")


@register(
    "text_vocab_build",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({tk.alnum_tokens_sql()}) AS term FROM documents),
    stats AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tf_total,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_docs
      FROM toks WHERE term <> '' GROUP BY term),
    vocab AS (
      SELECT term, tf_total, df_docs,
             row_number() OVER (ORDER BY tf_total DESC, term) AS token_id
      FROM stats WHERE df_docs >= 5)
    SELECT CAST(token_id AS BIGINT) AS token_id, term, tf_total, df_docs
    FROM vocab ORDER BY token_id
    """,
)
def text_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary build — the first step of every text
    training pipeline: corpus-wide term frequencies + document
    frequencies, a min-df floor (df >= 5), and DENSE ids assigned by
    (tf DESC, term) rank so id assignment is deterministic across runs
    and engines. The corpus-sized work is one exploded
    map-side-combinable count per term (COUNT + COUNT DISTINCT doc via
    Spark's two-phase distinct agg); only the VOCAB-sized survivor
    frame enters the global ranking window — bounded by vocabulary
    size (~1e5-1e6 rows at any corpus scale), never by corpus size, so
    the single-partition window is safe at 100 TB. Uses the kit's
    alnum tokenizer (functions/text.py) so vocab ids line up with every
    other text operator's tokens."""
    d = catalog.load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(tk.alnum_tokens(F.col("text"))).alias("term")
    ).filter(F.col("term") != "")
    stats = toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("tf_total"),
        F.countDistinct("doc_id").alias("df_docs"),
    )
    vocab = stats.filter(F.col("df_docs") >= 5)
    w = Window.orderBy(F.col("tf_total").desc(), "term")
    return vocab.select(
        F.row_number().over(w).cast("long").alias("token_id"),
        "term",
        "tf_total",
        "df_docs",
    ).orderBy("token_id")


_LM_FLAG = -3.5  # below = unusually improbable under the corpus LM

_LM_ORACLE = """
    WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
    big AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
            FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
    c12 AS (SELECT w1, w2, count(*) AS c12 FROM big GROUP BY 1, 2),
    c1t AS (SELECT w1, count(*) AS c1 FROM big GROUP BY 1),
    v AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(t) AS w FROM toks)),
    scored AS (SELECT b.doc_id,
                      CAST(ln((c12.c12 + 1.0) / (c1t.c1 + v.v)) AS DECIMAL(20,10)) AS lp
               FROM big b JOIN c12 USING (w1, w2) JOIN c1t USING (w1) CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_logp,
           (CAST(CAST(SUM(lp) AS DOUBLE) / COUNT(*) AS DOUBLE) < {flag}) AS flagged
    FROM scored GROUP BY doc_id ORDER BY doc_id
""".format(toks=tk.alnum_tokens_sql(), flag=_LM_FLAG)


@register(
    "text_lm_perplexity_filter",
    oracle=_LM_ORACLE,
)
def text_lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity filtering — the quality gate that
    trains a language model ON the corpus and flags documents the
    model finds improbable (boilerplate, gibberish, wrong-language
    text score far from the corpus distribution): here an in-corpus
    add-one-smoothed BIGRAM model, score = mean log P(w2|w1) per
    document, flag below -3.5. Two aggregation passes over one
    shared bigram frame build the model (c(w1,w2), c(w1), |V|); the
    scoring join hits the same frame, so the corpus is tokenized
    exactly once. At 100 TB: the model tables are vocabulary-bounded
    (broadcastable for real vocabularies), the bigram shuffle is the
    one corpus-sized exchange, and the flag threshold is a constant —
    the production form swaps the in-corpus counts for a reference
    KenLM without touching the plan shape. Storage trade-off (r13,
    ADVICE r12): the eager checkpoint of the EXPLODED bigram frame
    materializes one row per bigram to executor storage — roughly
    (words-per-doc − 1) × corpus rows, an order of magnitude more
    bytes than the inputs. That is the price of running
    tokenize+explode once instead of four times (measured 2.4→1.7 s at
    sf0.1); at corpus scale, if executor storage is the binding
    constraint, checkpoint only `toks` (array rows, ~1× corpus) and
    let the three consumers re-explode from it — same single
    tokenization, cheaper storage, one extra Generate per consumer.

    Float exactness: each bigram's log-probability is quantized to
    DECIMAL(20,10) BEFORE the per-document sum, so summation order
    cannot move the mean; the ln inputs are identical integer-ratio
    doubles on both engines (and ln itself matched bit-exactly, as in
    the BM25 family)."""
    docs = catalog.load_table(spark, sf_dir, "documents")
    # Eager: the c12, c1, scoring-join and |V| leaf stages read these concurrently.
    toks = materialize(docs.select("doc_id", tk.alnum_tokens(F.col("text")).alias("t")), eager=True)
    n = F.size("t")
    big = materialize(
        toks.select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, n - 1).alias("w1"), F.slice("t", 2, n - 1).alias("w2")
                )
            ).alias("bg"),
        ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2")),
        eager=True,
    )
    c12 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = toks.select(F.explode("t").alias("w")).agg(F.countDistinct("w").alias("v"))
    scored = (
        big.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log((F.col("c12") + 1.0) / (F.col("c1") + F.col("v")))
            .cast("decimal(20,10)")
            .alias("lp"),
        )
    )
    avg = (F.col("_slp") / F.col("n_bigrams")).alias("avg_logp")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("lp").cast("double").alias("_slp"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            avg,
            ((F.col("_slp") / F.col("n_bigrams")) < _LM_FLAG).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Word-entropy quality filter. Low unigram entropy = repetitive /
# boilerplate / keyword-stuffed text; the standard cheap companion to
# the Gopher repetition rules. Identity used on both engines:
#   H = ln(n) - (1/n) * SUM(c * ln(c))        (natural-log entropy)
# The data-sized SUM runs over per-word terms c*ln(c) quantized to
# DECIMAL(38,18) BEFORE summing, so distributed summation order cannot
# move the result; the closed form is then evaluated in doubles over an
# identical expression tree and rounded to 6 dp.
# ---------------------------------------------------------------------------
_ENTROPY_FLAG = 2.0  # nats; measured (2026-08): sf0.01 min 1.64 / p05
# 2.43 / median 3.09 / max 3.35 — the 2.0 cut flags 1, 2, and 20 docs
# at sf0.001/0.01/0.1, non-vacuous at every SF


@register(
    "text_entropy_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             {tk.alnum_tokens_sql()} AS w
      FROM documents),
    words AS (
      SELECT doc_id, lang, unnest(w) AS word FROM toks),
    wc AS (
      SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS c
      FROM words WHERE word <> '' GROUP BY doc_id, lang, word),
    ent AS (
      SELECT doc_id, lang,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(CAST(c * ln(c) AS DECIMAL(38,18))) AS DOUBLE) AS slc
      FROM wc GROUP BY doc_id, lang),
    h AS (
      SELECT doc_id, lang,
             ROUND(ln(n) - slc / n, 6) AS entropy
      FROM ent)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN entropy < {_ENTROPY_FLAG} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           ROUND(CAST(SUM({dec6_sql("entropy")}) AS DOUBLE)
                 / COUNT(*), 6) AS avg_entropy
    FROM h GROUP BY lang ORDER BY lang
    """,
)
def text_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram WORD-ENTROPY quality filter — flags repetitive /
    boilerplate documents whose token distribution carries too little
    information (< {flag} nats), the cheap information-theoretic
    companion to text_gopher_repetition's rule list. Per doc:
    H = ln(n) - SUM(c*ln(c))/n over alnum word counts (the shared
    corpus tokenizer); output is the per-lang rollup a curator reads
    (doc count, flagged count, 6-dp mean entropy).

    Scale: tokenize + explode is map-side; ONE shuffle by (doc_id,
    word) for the count, one sub-key reduction to doc level (each
    doc's word list never co-resident — the explode is streamed), one
    skinny rollup by lang. Every data-sized float sum is quantized to
    DECIMAL before aggregation (order-independent); the per-doc closed
    form and the final mean are identical double expression trees on
    both engines, rounded to 6 dp."""
    d = catalog.load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(tk.alnum_tokens(F.col("text"))).alias("word")
    ).filter(F.col("word") != "")
    wc = words.groupBy("doc_id", "lang", "word").agg(
        F.count(F.lit(1)).alias("c")
    )
    ent = wc.groupBy("doc_id", "lang").agg(
        F.sum("c").alias("n"),
        F.sum((F.col("c") * F.log("c")).cast("decimal(38,18)"))
        .cast("double")
        .alias("slc"),
    )
    h = ent.select(
        "lang",
        F.round(F.log("n") - F.col("slc") / F.col("n"), 6).alias("entropy"),
    )
    return (
        h.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("entropy") < _ENTROPY_FLAG, 1).otherwise(0)
            ).alias("n_flagged"),
            F.round(
                F.sum(dec6("entropy")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_entropy"),
        )
        .orderBy("lang")
    )


text_entropy_filter.__doc__ = text_entropy_filter.__doc__.format(
    flag=_ENTROPY_FLAG
)


# Fixed, versioned classifier weights (a FineWeb-edu-style linear
# scorer distilled to the features this corpus carries; in production
# the weights come from a trained model's export — here they are
# literals so the whole filter is engine-portable and auditable).
# Margin semantics: keep iff w·x > 0 — the comparison happens in
# LINEAR space (no sigmoid), so both engines compare bit-identical
# doubles and no transcendental function can drift the boundary.
_CLF_W0 = -1.2  # bias
_CLF_W_STOP = 6.0  # stopword ratio (prose signal)
_CLF_W_ATL = 0.12  # average token length
_CLF_W_LEN = 0.004  # token count


@register(
    "text_quality_classifier_linear",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             {tk.ws_tokens_sql()} AS toks,
             length(text) AS n
      FROM documents),
    f AS (
      SELECT doc_id, lang,
             CAST(len(toks) AS DOUBLE) AS n_tokens,
             CAST(n AS DOUBLE) / len(toks) AS atl,
             CAST({_stopword_hits_sql()} AS DOUBLE) / len(toks) AS stop_ratio
      FROM t),
    s AS (
      SELECT doc_id, lang,
             {_CLF_W0} + {_CLF_W_STOP} * stop_ratio
                       + {_CLF_W_ATL} * atl
                       + {_CLF_W_LEN} * n_tokens AS margin
      FROM f)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           ROUND(CAST(SUM({dec6_sql("margin")}) AS DOUBLE)
                 / COUNT(*), 6) AS avg_margin
    FROM s GROUP BY lang ORDER BY lang
    """,
)
def text_quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL-BASED quality filtering (the FineWeb-edu / CCNet-
    classifier pipeline class, linear form): each document is scored
    by a fixed exported weight vector over cheap prose features
    (stopword ratio, average token length, token count — the
    text_quality_score feature family) and kept iff the MARGIN w·x
    is positive — the decision is made in linear space, never through
    a sigmoid, so both engines compare bit-identical doubles (the
    same reason sample_weighted_reservoir quantizes before ranking).
    Per-lang rollup of kept counts and the 6-dp mean margin
    (DECIMAL-quantized before the distributed sum).

    Scale: scoring is map-side column math on the scan; only the
    |langs|-sized rollup shuffles. At 100 TB this is exactly how a
    distilled quality classifier deploys — weights as plan literals
    (or a broadcast array for wide vocabularies), features computed
    in the same pass as every other per-doc filter, no model-server
    round trip in the hot path. The measured keep rate on this corpus
    is ~60-70% (non-vacuous both ways at every SF, pinned in tests)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    toks = tk.ws_tokens(F.col("text"))
    stop = _stopword_hits(toks)
    f = d.select(
        "lang",
        F.size(toks).cast("double").alias("n_tokens"),
        (F.length("text").cast("double") / F.size(toks)).alias("atl"),
        (stop.cast("double") / F.size(toks)).alias("stop_ratio"),
    )
    margin = (
        F.lit(_CLF_W0)
        + F.lit(_CLF_W_STOP) * F.col("stop_ratio")
        + F.lit(_CLF_W_ATL) * F.col("atl")
        + F.lit(_CLF_W_LEN) * F.col("n_tokens")
    )
    s = f.select("lang", margin.alias("margin"))
    return (
        s.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("margin") > 0, 1).otherwise(0)).alias("n_kept"),
            F.round(
                F.sum(dec6("margin")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_margin"),
        )
        .orderBy("lang")
    )


_FH_DIM = 8  # hashed feature buckets (fixed-width output)


@register(
    "feature_hashing_vectorizer",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t FROM (
        SELECT doc_id,
               unnest({tk.letter_tokens_sql()}) AS t
        FROM documents WHERE doc_id < 20)
      WHERE t <> ''),
    b AS (
      SELECT doc_id,
             {md5_int_sql("t")} % {_FH_DIM} AS bkt
      FROM tok)
    SELECT doc_id,
           {", ".join(
               f"CAST(SUM(CASE WHEN bkt = {i} THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS f{i}" for i in range(8)
           )}
    FROM b GROUP BY doc_id ORDER BY doc_id
    """,
)
def feature_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASHING-TRICK vectorizer (Weinberger et al. 2009; sklearn's
    HashingVectorizer / Spark MLlib's HashingTF re-expressed
    engine-portably): tokens hash straight into a FIXED number of
    feature buckets — no vocabulary table, no fit pass, no dictionary
    to ship. The md5-derived bucket matches the repo's portable-hash
    discipline (same construction as the modularity community hash),
    so the oracle reproduces the exact feature matrix. Output is the
    bucket-count matrix as {_FH_DIM} scalar columns for a bounded doc
    slice (driver-safe schema; production writes the full matrix as a
    vector column).

    Scale: this is THE vocabulary-free featurizer for 100 TB text —
    one explode + one map-side-combinable groupBy(doc); state per doc
    is {_FH_DIM} counters regardless of corpus vocabulary (contrast
    text_vocab_build, whose model table grows with the corpus);
    collisions are the accepted tradeoff and dimension is the knob."""
    d = catalog.load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    tok = d.select(
        "doc_id",
        F.explode(tk.letter_tokens(F.col("text"))).alias("t"),
    ).filter(F.col("t") != "")
    bkt = md5_int("t") % _FH_DIM
    return (
        tok.select("doc_id", bkt.alias("bkt"))
        .groupBy("doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("bkt") == i, 1).otherwise(0)).alias(f"f{i}")
                for i in range(_FH_DIM)
            ]
        )
        .orderBy("doc_id")
    )


@register(
    "text_ttr_lexical_diversity",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {tk.ws_tokens_sql()} AS toks
      FROM documents),
    d AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(list_transform(toks, w -> lower(w))))
                  AS BIGINT) AS n_types
      FROM t),
    b AS (
      SELECT (1000000 * n_types) // n_tokens AS ttr_micro, n_tokens, n_types
      FROM d)
    SELECT CAST(ttr_micro // 100000 AS BIGINT) AS ttr_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_types) AS BIGINT) AS sum_types,
           CAST(MIN(ttr_micro) AS BIGINT) AS min_ttr_micro,
           CAST(MAX(ttr_micro) AS BIGINT) AS max_ttr_micro
    FROM b GROUP BY ttr_decile ORDER BY ttr_decile
    """,
)
def text_ttr_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-TOKEN RATIO (lexical diversity) profile of the corpus —
    the vocabulary-richness filter a training-data pipeline runs next
    to the Gopher repetition and entropy gates: distinct case-folded
    types over whitespace tokens per document, histogrammed into TTR
    deciles (low TTR = repetitive/boilerplate-heavy text, the same
    signal text_gopher_repetition reads from duplicate n-grams,
    measured here at whole-vocabulary grain).

    Exactness: the tokenizer is the shared trim+\\s+ split
    (text_token_count parity, pinned since r03); TTR rides exact
    integer micro-units — (1e6 * types) div tokens, truncating
    division pinned identical across engines (r10 probe) — so no
    double ever reaches the hash; decile = ttr_micro div 1e5.

    Scale: one pass, fully map-side until the ~11-row decile rollup
    (map-side combine); the per-doc distinct runs INSIDE the token
    array (array_distinct — no shuffle, bounded by document length),
    never as a corpus-wide distinct. The decile histogram is the
    fixed-width output regardless of corpus size."""
    d = catalog.load_table(spark, sf_dir, "documents")
    toks = tk.ws_tokens(F.col("text"))
    base = d.select(
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(
            F.array_distinct(F.transform(toks, lambda w: F.lower(w)))
        )
        .cast("bigint")
        .alias("n_types"),
    )
    b = base.select(
        F.expr("(1000000 * n_types) div n_tokens").alias("ttr_micro"),
        "n_tokens",
        "n_types",
    )
    return (
        b.groupBy(F.expr("ttr_micro div 100000").cast("bigint").alias("ttr_decile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
            F.sum("n_types").cast("bigint").alias("sum_types"),
            F.min("ttr_micro").cast("bigint").alias("min_ttr_micro"),
            F.max("ttr_micro").cast("bigint").alias("max_ttr_micro"),
        )
        .orderBy("ttr_decile")
    )
