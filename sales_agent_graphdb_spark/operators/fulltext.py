"""Full-text fuzzy search (SURVEY.md G6).

The reference serves `CALL db.index.fulltext.queryNodes(
"product_name_index", "term~") LIMIT 10` — Lucene fuzzy matching
(neo4j_service.py:71,107). Spark-first re-expression: a derived
inverted-index DataFrame (token → id) + levenshtein scoring on tokens,
top-k by (distance, id).

At 100 TB the inverted index is a materialized, bucketed-by-token
table; a query is then a point lookup on the token buckets plus a
small candidate rescoring — never a full scan of the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.functions import text as tk


def inverted_index(
    df: DataFrame, text_col: str = "name", id_col: str = "sku"
) -> DataFrame:
    """token → id postings: explode(split(lower(text)))."""
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tk.lower_ws_tokens(F.col(text_col))).alias("token"),
        )
        .filter(F.length("token") > 0)
        .distinct()
    )


def fuzzy_search(
    index: DataFrame,
    term: str,
    max_distance: int = 2,
    k: int = 10,
) -> DataFrame:
    """G6 — ids whose tokens are within `max_distance` edits of term,
    scored by min distance; top-k by (distance, id). The levenshtein
    prefilter on length difference keeps the scan cheap.

    A multi-word term (a quoted phrase like "hot rod") is matched
    per word against the token-level index — every word must fuzzy-hit
    some token of the doc, and the doc's distance is the sum of
    per-word minima (Lucene-phrase-ish AND semantics). Matching the
    whole phrase against single tokens would silently return zero hits
    for products that literally bear the quoted name."""

    def _word_scores(w: str, alias: str) -> DataFrame:
        return (
            index.filter(
                (F.length("token") >= len(w) - max_distance)
                & (F.length("token") <= len(w) + max_distance)
            )
            .withColumn("d", F.levenshtein(F.col("token"), F.lit(w)))
            .filter(F.col("d") <= max_distance)
            .groupBy("id")
            .agg(F.min("d").alias(alias))
        )

    words = [w for w in term.lower().split() if w]
    if len(words) <= 1:
        scored = _word_scores(words[0] if words else term.lower(), "distance")
        return scored.orderBy("distance", "id").limit(k)
    per_word: DataFrame | None = None
    for i, w in enumerate(words):
        sw = _word_scores(w, f"d{i}")
        per_word = sw if per_word is None else per_word.join(sw, "id")
    total = None
    for i in range(len(words)):
        c = F.col(f"d{i}")
        total = c if total is None else total + c
    scored = per_word.select("id", total.alias("distance"))
    return scored.orderBy("distance", "id").limit(k)


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------

# Okapi BM25 constants (k1, b) — standard defaults.
BM25_K1, BM25_B = 1.2, 0.75

# Per-term score, written ONCE as SQL text and parsed by both engines so
# the double-arithmetic DAG is identical and the result bit-exact. The
# idf is the *rational* variant (N - df + 0.5)/(df + 0.5) — monotone in
# df like the classic ln() idf, but free of transcendental functions,
# which differ at ulp level between JVM Math.log and DuckDB's libm and
# would break the driver's value-hash. (Swapping in ln() changes scores,
# not ranks.)
_BM25_TERM_SCORE = (
    "((n_docs - dfreq + 0.5)/(dfreq + 0.5))"
    " * ((tf * {k1_plus_1})/(tf + {k1}*({one_minus_b} + {b}*(dl/avgdl))))"
).format(k1_plus_1=BM25_K1 + 1.0, k1=BM25_K1, one_minus_b=1.0 - BM25_B, b=BM25_B)

def bm25_rank(
    docs: DataFrame, terms: list[str], k: int = 10, ngrams: int = 1
) -> DataFrame:
    """Okapi-BM25 top-k retrieval for a fixed bag of query ``terms``
    over ``docs(doc_id, text)``.

    Spark-first shape: one token explode feeds three aggregates —
    per-doc length (dl), per-(doc, term) tf (filtered to the query
    terms BEFORE the shuffle, so the heavy agg only moves matching
    postings), and per-term document frequency. Corpus stats (N,
    avgdl) and the df table are tiny and broadcast; the doc-side
    joins stay shuffle-light and the final top-k is
    TakeOrderedAndProject — no global sort. The per-doc score sums
    term scores in a FIXED column order (one conditional-max per
    term), not an aggregation fold, so summation order can never
    change the double result between engines.

    ``ngrams > 1`` enables PHRASE terms: the posting stream carries
    word n-grams up to that order (a term like "hash join" is a
    2-gram posting), scored with the same BM25 formula — the standard
    shingle-index phrase approximation (exact adjacency, no positions
    needed). Document length stays the unigram count, so unigram
    scores are unchanged by the wider index.

    At 100 TB: tokens/tf/dl are the materialized inverted-index
    tables (bucketed by token); a query then joins k postings lists
    and never rescans the corpus.
    """
    if not terms:
        raise ValueError("bm25_rank: terms must be a non-empty list")
    need = max(len(t.split()) for t in terms)
    if need > ngrams:
        raise ValueError(
            f"bm25_rank: terms contain a {need}-word phrase but ngrams={ngrams}"
        )
    # Materialize the token array as its own aliased projection:
    # referencing the split+filter expression inline would duplicate it
    # into every element_at of the n-gram lambdas (the CollapseProject
    # pitfall text_boilerplate_ngrams documents — measured ~10x slower
    # inlined for the bigram stream).
    base = docs.select("doc_id", tk.alnum_run_tokens(F.col("text")).alias("_toks"))
    arr = F.col("_toks")
    toks = base.select("doc_id", F.explode(arr).alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("double").alias("dl"))
    if ngrams > 1:
        gram_arr = arr
        for n in range(2, ngrams + 1):
            gram_arr = F.concat(gram_arr, tk.word_ngrams(arr, n))
        toks = base.select("doc_id", F.explode(gram_arr).alias("token"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    hits = toks.filter(F.col("token").isin(terms))
    dfreq = (
        hits.distinct()
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("double").alias("dfreq"))
    )
    tf = hits.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    term_scores = (
        tf.join(F.broadcast(dfreq), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("s", F.expr(_BM25_TERM_SCORE))
    )
    per_term_cols = [
        F.coalesce(
            F.max(F.when(F.col("token") == t, F.col("s"))), F.lit(0.0)
        ).alias(f"s_{i}")
        for i, t in enumerate(terms)
    ]
    scored = term_scores.groupBy("doc_id").agg(*per_term_cols)
    total = None
    for i in range(len(terms)):
        c = F.col(f"s_{i}")
        total = c if total is None else total + c
    return (
        scored.select("doc_id", total.alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )


def duckdb_bm25_sql(terms: list[str], k: int = 10, ngrams: int = 1) -> str:
    """DuckDB oracle for :func:`bm25_rank` — same token split, same
    per-term score expression text, same fixed-order summation, and
    for ``ngrams > 1`` the same word-n-gram posting stream (dl stays
    the unigram count). Terms are quote-escaped before interpolation
    (a term like "o'brien" must not break or inject into the oracle
    session)."""
    esc = [t.replace("'", "''") for t in terms]
    in_list = ", ".join(f"'{t}'" for t in esc)
    per_term = " + ".join(
        f"COALESCE(MAX(CASE WHEN token = '{t}' THEN s END), 0.0)" for t in esc
    )
    gram_legs = ["SELECT doc_id, unnest(arr) AS token FROM arrs"]
    for n in range(2, ngrams + 1):
        gram_legs.append(
            f"SELECT doc_id, unnest({tk.word_ngrams_sql('arr', n)}) AS token FROM arrs"
        )
    grams_sql = " UNION ALL ".join(gram_legs)
    return f"""
    WITH arrs AS (
      SELECT doc_id, {tk.alnum_run_tokens_sql()} AS arr FROM documents),
    toks AS ({grams_sql}),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS dl
           FROM arrs, unnest(arr) AS u(tok) GROUP BY doc_id),
    g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
    dfreq AS (SELECT token, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS dfreq
              FROM toks WHERE token IN ({in_list}) GROUP BY token),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE token IN ({in_list}) GROUP BY doc_id, token),
    term_scores AS (
      SELECT tf.doc_id, tf.token, {_BM25_TERM_SCORE} AS s
      FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN g)
    SELECT doc_id, ({per_term}) AS score
    FROM term_scores GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT {k}
    """
