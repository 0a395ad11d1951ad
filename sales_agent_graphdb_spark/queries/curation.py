"""Training-corpus curation operators beyond dedup: benchmark
decontamination, deterministic stratified sampling, and domain-mix
weighting. These are the remaining first-class LLM-data-pipeline
components (brief: "the operations a large-scale training-data
pipeline would need") that queries/dedup.py and queries/text.py don't
already cover.

All JVM column math, each with a DuckDB oracle. Hash-derived sharding
uses md5 (engine-portable), never xxhash, so oracles reproduce splits
bit-for-bit — same rationale as pipeline_curate_corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import H52_SPAN, md5_int, md5_int_sql
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize


# Deterministic content-independent shard in [0, 10): md5 of the doc id
# string. Used for the train/eval split (decontamination) and the
# per-stratum sample. Stable under corpus growth and re-ingestion.
def _shard10(doc_id: Column) -> Column:
    return md5_int(doc_id) % 10


_SHARD10_SQL = f"{md5_int_sql('doc_id')} % 10"

_NGRAM_N = 5  # decontamination's word n-gram order


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select("doc_id", tk.alnum_tokens(F.col("text")).alias("w"))


# The exact decontamination answer; the Bloom-prefiltered twin must
# return it unchanged, so both queries register this one text.
_DECONTAMINATE_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_SHARD10_SQL} AS shard, {tk.alnum_tokens_sql()} AS w
      FROM documents),
    grams AS (
      SELECT doc_id, shard, {tk.word_ngrams_sql("w", _NGRAM_N)} AS gs FROM toks),
    flat AS (SELECT DISTINCT doc_id, shard, unnest(gs) AS gram FROM grams),
    train AS (SELECT doc_id, gram FROM flat WHERE shard <> 0),
    eval_set AS (SELECT doc_id, gram FROM flat WHERE shard = 0)
    SELECT t.doc_id AS train_doc_id,
           CAST(COUNT(DISTINCT t.gram) AS BIGINT) AS n_shared_grams,
           CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
    FROM train t JOIN eval_set e ON t.gram = e.gram
    GROUP BY t.doc_id ORDER BY train_doc_id
    """


@register("decontaminate_ngram_overlap", oracle=_DECONTAMINATE_ORACLE)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training documents sharing any
    word 5-gram with the held-out eval split (the n-gram-overlap
    contamination check every serious pretraining pipeline runs before
    training; GPT-3/PaLM-style 13-gram at full scale — 5 here because
    testdata docs are 30–80 tokens).

    Spark-first shape: ONE tokenize+gram explode over the corpus,
    split into train/eval by a deterministic md5 shard of doc_id, then
    an equi-join on the gram string — never a doc×doc comparison. At
    100 TB the eval side is tiny (the benchmark suite), so the join
    broadcasts eval grams and the check is one map-side pass over
    train grams."""
    toks = _tokenized(spark, sf_dir).withColumn("shard", _shard10(F.col("doc_id")))
    # Read by both join sides.
    flat = materialize(
        toks.select(
            "doc_id", "shard", F.explode(tk.word_ngrams(F.col("w"), _NGRAM_N)).alias("gram")
        )
        .distinct(),
        eager=False,
    )
    train = flat.filter(F.col("shard") != 0).select("doc_id", "gram")
    eval_set = flat.filter(F.col("shard") == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    return (
        train.join(F.broadcast(eval_set), "gram")
        .groupBy(F.col("doc_id").alias("train_doc_id"))
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .orderBy("train_doc_id")
    )


@register(
    "sample_stratified_hash",
    oracle=f"""
    WITH sharded AS (
      SELECT doc_id, lang, {_SHARD10_SQL} AS shard FROM documents)
    SELECT doc_id, lang FROM sharded WHERE shard < 2 ORDER BY doc_id
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a 20% per-language sample by
    content-independent hash shard — the reproducible subsampling a
    training pipeline uses for ablations and eval carve-outs. Unlike
    df.sample(), the selection is stable across runs, engines, and
    partitionings (md5(doc_id) mod 10 < 2), and joins against any
    other hash-sharded artifact line up for free. Pure filter — no
    shuffle at all; the per-stratum rate is enforced by hash
    uniformity within each stratum."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang")
        .filter(_shard10(F.col("doc_id")) < 2)
        .orderBy("doc_id")
    )


@register(
    "corpus_mix_weights",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, source, len({tk.alnum_tokens_sql()}) AS n_tokens FROM documents),
    per_source AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
                   CAST(COUNT(*) AS DOUBLE) AS n_sources FROM per_source)
    SELECT source, n_docs, n_tokens,
           (CAST(n_tokens AS DOUBLE) / total_tokens) AS token_share,
           ((1.0 / n_sources) / (CAST(n_tokens AS DOUBLE) / total_tokens)) AS mix_weight
    FROM per_source CROSS JOIN tot ORDER BY source
    """,
)
def _source_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE definition of the per-source weight frame (source, n_docs,
    n_tokens, token_share, mix_weight) — corpus_mix_weights reports it,
    sample_weighted_hash applies it; a drift between the two would make
    the applied sample disagree with the reported weights."""
    d = catalog.load_table(spark, sf_dir, "documents")
    per_doc = d.select("source", tk.alnum_tokens(F.col("text")).alias("w"))
    per_source = per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.col("w"))).alias("n_tokens"),
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    share = F.col("n_tokens").cast("double") / F.col("total_tokens")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        share.alias("token_share"),
        ((F.lit(1.0) / F.col("n_sources")) / share).alias("mix_weight"),
    )


def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix weighting: per-source token counts and the sampling
    weight that re-balances the corpus to a uniform target mix
    (weight = target_share / actual_share) — the DoReMi/Pile-style
    domain-reweighting input computed as one aggregation. Counts are
    exact BIGINTs; the two shares are each a single double division of
    exact integers, so the oracle matches bit-for-bit. At 100 TB this
    is one map-side-combinable groupBy on a low-cardinality key plus a
    broadcast of the one-row total."""
    return _source_token_stats(spark, sf_dir).orderBy("source")


# ---------------------------------------------------------------------------
# Token-budget packing — select documents per source up to a fixed
# token budget (the "take the first N tokens of each domain" step of a
# training-mix build, the applied form of corpus_mix_weights' ratios).
# ---------------------------------------------------------------------------

from pyspark.sql import Window  # noqa: E402

_PACK_BUDGET = 2500  # tokens per source; sf0.01 sources hold ~1.1-1.6k
# tokens in 25 docs, so the flag exercises both outcomes across SFs.


@register(
    "corpus_token_budget_pack",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({tk.ws_tokens_sql()}) AS INT) AS n_tokens
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM t)
    SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
           (cum_tokens <= {_PACK_BUDGET}) AS in_budget
    FROM c ORDER BY source, doc_id
    """,
)
def corpus_token_budget_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy per-source token-budget packing: deterministic doc_id
    order, running token sum, keep while the cumulative count fits the
    budget. Integer window arithmetic — bit-exact across engines.

    Scale: the window is partitioned by source (never global); a
    single pathological source would serialize its partition, in which
    case the two-pass prefix sum (per-partition partial totals +
    broadcast running offsets, the incremental_agg_maintenance
    technique) is the drop-in scale-out form."""
    d = catalog.load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(tk.ws_tokens(F.col("text"))).cast("int").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("bigint"))
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") <= _PACK_BUDGET).alias("in_budget"),
    ).orderBy("source", "doc_id")


# ---------------------------------------------------------------------------
# Weighted hash sampling — APPLY the corpus_mix_weights ratios: accept
# each document with per-source probability via a deterministic hash
# threshold. The missing middle step between computing mix weights and
# the packed epoch.
# ---------------------------------------------------------------------------

_WSAMPLE_BASE = 0.3  # base acceptance rate scaled by each source's weight


@register(
    "sample_weighted_hash",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, source, len({tk.alnum_tokens_sql()}) AS n_tokens FROM documents),
    per_source AS (
      SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY source),
    tot AS (SELECT CAST(SUM(n_tokens) AS DOUBLE) AS total_tokens,
                   CAST(COUNT(*) AS DOUBLE) AS n_sources FROM per_source),
    w AS (
      SELECT source,
             least(1.0, ((1.0 / n_sources)
                         / (CAST(n_tokens AS DOUBLE) / total_tokens))
                        * {_WSAMPLE_BASE}) AS p
      FROM per_source CROSS JOIN tot)
    SELECT d.doc_id, d.source
    FROM documents d JOIN w ON d.source = w.source
    WHERE CAST({md5_int_sql("d.doc_id", "#ws", 13)} AS DOUBLE)
          < w.p * {H52_SPAN}
    ORDER BY d.doc_id
    """,
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted deterministic sampling — the APPLY step of
    corpus_mix_weights (DoReMi/Pile-style domain reweighting): each
    document is accepted iff hash52(doc_id) < p_source · 2^52, where
    p_source = min(1, uniform-target mix weight × base rate). The
    52-bit md5 slice is exact as a double (< 2^53) and the threshold
    is the same two-division product on both engines, so acceptance is
    bit-deterministic — reproducible across runs, engines, and
    partitionings, and upsampling a source never changes which of its
    documents are kept (hash order is fixed; raising p only widens the
    prefix). One low-cardinality agg + a broadcast join + a map-side
    filter: no shuffle of the corpus at 100 TB."""
    d = catalog.load_table(spark, sf_dir, "documents")
    weights = _source_token_stats(spark, sf_dir).select(
        "source",
        F.least(
            F.lit(1.0), F.col("mix_weight") * F.lit(_WSAMPLE_BASE)
        ).alias("p"),
    )
    h = md5_int("doc_id", "#ws", 13)
    return (
        d.join(F.broadcast(weights), "source")
        .filter(h.cast("double") < F.col("p") * F.lit(H52_SPAN))
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Quality-binned (curriculum) sampling — bin every document by a
# quality score, then keep a different deterministic fraction of each
# bin (keep all of the best bin, down-sample the worst). The applied
# form of a quality classifier in a pretraining pipeline: the score
# here is lexical diversity (distinct-token count), the bin edges are
# equal-width over the observed [min, max] (computed in one exact
# integer aggregate — no global sort / NTILE single-partition window),
# and the per-bin keep decision is the same 52-bit md5 threshold as
# sample_weighted_hash, so re-running on a grown corpus never flips a
# previously kept document.
# ---------------------------------------------------------------------------

_BIN_RATES = (0.10, 0.25, 0.50, 1.0)  # keep-rate per quality bin 0..3


@register(
    "sample_quality_bins",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(list_distinct({tk.alnum_tokens_sql()})) AS BIGINT) AS score
      FROM documents),
    edges AS (
      SELECT MIN(score) AS minv, MAX(score) - MIN(score) + 1 AS span FROM scored),
    binned AS (
      SELECT doc_id, score,
             -- explicit DOUBLE casts: a bare 4.0 literal is DECIMAL in
             -- DuckDB and the decimal-typed quotient could round across
             -- a floor boundary the double path does not
             CAST(least(3, floor(CAST((score - minv) * 4 AS DOUBLE)
                                 / CAST(span AS DOUBLE))) AS INT) AS bin
      FROM scored CROSS JOIN edges),
    rated AS (
      SELECT doc_id, score, bin,
             CAST(CASE bin WHEN 0 THEN {_BIN_RATES[0]} WHEN 1 THEN {_BIN_RATES[1]}
                      WHEN 2 THEN {_BIN_RATES[2]} ELSE {_BIN_RATES[3]} END AS DOUBLE) AS rate
      FROM binned)
    SELECT doc_id, score, bin,
           (CAST({md5_int_sql("doc_id", "#qb", 13)} AS DOUBLE)
            < rate * {H52_SPAN}) AS kept
    FROM rated ORDER BY doc_id
    """,
)
def sample_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum sampling: equal-width quality bins (score = distinct
    alnum tokens) with per-bin deterministic hash keep-rates
    (10%/25%/50%/100% from worst to best bin).

    Scale shape: one map-side-combinable MIN/MAX aggregate, its
    one-row result broadcast back (the documented one-row-frame
    crossJoin), then a pure map-side bin+threshold projection — the
    corpus is never shuffled or sorted. Bin assignment is exact small-
    integer arithmetic through one correctly-rounded double division,
    and the keep decision is the shared 52-bit md5 prefix — both
    bit-identical across engines and stable under corpus growth
    (an NTILE/percentile binning would reshuffle every document's bin
    when new data arrives; equal-width edges only move when the
    extremes move)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        F.size(F.array_distinct(tk.alnum_tokens(F.col("text")))).cast("bigint").alias("score"),
    )
    edges = scored.agg(
        F.min("score").alias("minv"),
        (F.max("score") - F.min("score") + 1).alias("span"),
    )
    binned = scored.crossJoin(F.broadcast(edges)).select(
        "doc_id",
        "score",
        F.least(
            F.lit(3),
            F.floor((F.col("score") - F.col("minv")) * 4.0 / F.col("span")),
        ).cast("int").alias("bin"),
    )
    rate = (
        F.when(F.col("bin") == 0, F.lit(_BIN_RATES[0]))
        .when(F.col("bin") == 1, F.lit(_BIN_RATES[1]))
        .when(F.col("bin") == 2, F.lit(_BIN_RATES[2]))
        .otherwise(F.lit(_BIN_RATES[3]))
    )
    h = md5_int("doc_id", "#qb", 13)
    return binned.select(
        "doc_id",
        "score",
        "bin",
        (h.cast("double") < rate * F.lit(H52_SPAN)).alias("kept"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Epoch shuffling — the LAST step of a training-data build: assign
# every document a shard and a position such that the global order is
# a deterministic pseudo-random permutation (seeded by the epoch
# salt), reproducible across runs, engines, and partitionings. A real
# epoch differs from df.orderBy(rand()) in exactly the properties
# verified here: same seed → same permutation; different seed → a
# different one; and the sort is SHARDED (each shard sorts its own
# slice) — never one global sort of the corpus.
# ---------------------------------------------------------------------------

_EPOCH_SHARDS = 8
_EPOCH_SALT = "#epoch1"


@register(
    "corpus_shuffle_epoch",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id,
             CAST({md5_int_sql("doc_id", _EPOCH_SALT)} % {_EPOCH_SHARDS} AS INT) AS shard,
             md5(CAST(doc_id AS VARCHAR) || '{_EPOCH_SALT}#ord') AS sort_key
      FROM documents)
    SELECT doc_id, shard,
           CAST(row_number() OVER (PARTITION BY shard ORDER BY sort_key, doc_id)
                AS BIGINT) AS pos
    FROM keyed ORDER BY shard, pos
    """,
)
def corpus_shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: shard = md5(doc_id + epoch salt)
    mod 8, position = rank of md5(doc_id + salt + '#ord') within the
    shard. Reading shards 0..7 in pos order replays one seeded global
    permutation; bumping the salt is a new epoch.

    Scale shape: one map-side projection + a window PARTITIONED BY
    SHARD — each shard sorts only corpus/8 (in production, shards =
    output files and the sort rides the write's local sort;
    repartition(shard) + sortWithinPartitions, no global exchange of
    a total order). Hash keys make the permutation content-independent
    and stable under corpus growth within an epoch. Shares md5_int
    with every other sharding operator in this module."""
    d = catalog.load_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast("string")
    keyed = d.select(
        "doc_id",
        (md5_int(sid, _EPOCH_SALT) % _EPOCH_SHARDS).cast("int")
        .alias("shard"),
        F.md5(F.concat(sid, F.lit(_EPOCH_SALT + "#ord"))).alias("sort_key"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy("sort_key", "doc_id")
    return (
        keyed.select(
            "doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos")
        )
        .orderBy("shard", "pos")
    )


# Exact-n stratified sample: the "exactly k examples per class" sampler
# a training pipeline needs where rate-based hash sampling
# (sample_stratified_hash) can only promise a PROPORTION. Two-phase at
# scale: a content-independent md5 hash PRE-FILTER (pure map-side, no
# shuffle) cuts each stratum from N/|strata| rows to a small candidate
# pool, and only the survivors enter the per-stratum rank window — so
# the window's shuffle carries ~|strata| * pool rows, never the corpus.
# The selection rule (md5 order, ties by id) is engine-independent and
# stable across runs/partitionings; the pool fraction (40%) keeps every
# stratum's pool >= n at every driver SF (measured min 71 >= 50).
_EXACT_N = 50
_POOL_MOD, _POOL_KEEP = 10, 4


@register(
    "sample_stratified_exact_n",
    oracle=f"""
    WITH pool AS (
      SELECT event_id, event_type,
             md5(CAST(event_id AS VARCHAR)) AS h
      FROM events
      WHERE {md5_int_sql("event_id")} % {_POOL_MOD} < {_POOL_KEEP}),
    ranked AS (
      SELECT event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY h, event_id) AS rn
      FROM pool)
    SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id
    FROM ranked WHERE rn <= {_EXACT_N}
    ORDER BY event_type, rn
    """,
)
def sample_stratified_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-n stratified sample (see the constants comment above):
    exactly {n} events per event_type, selected by deterministic md5
    order — hash prefilter map-side, rank window only over the
    surviving pool. tests/test_round6_ops.py-style probe asserts the
    window input is the pooled fraction, and the oracle replays the
    identical rule."""
    from pyspark.sql import Window

    e = catalog.load_table(spark, sf_dir, "events")
    pool = e.filter(
        md5_int("event_id") % _POOL_MOD < _POOL_KEEP
    ).select(
        "event_id", "event_type", F.md5(F.col("event_id").cast("string")).alias("h")
    )
    w = Window.partitionBy("event_type").orderBy("h", "event_id")
    return (
        pool.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _EXACT_N)
        .select("event_type", F.col("rn").cast("long").alias("rn"), "event_id")
        .orderBy("event_type", "rn")
    )


sample_stratified_exact_n.__doc__ = sample_stratified_exact_n.__doc__.format(
    n=_EXACT_N
)


# A-ES (Efraimidis–Spirakis) weighted reservoir: key = ln(u) / w with
# u ~ U(0,1) derived from the shared 52-bit md5 hash — deterministic,
# engine-portable, and exactly the distributed form of weighted
# sampling WITHOUT replacement (the top-k by key IS the reservoir).
# The key is quantized to 9 dp before ranking so a 1-ulp ln() drift
# between the JVM and DuckDB's libm can never flip the rank-k
# boundary; equal quantized keys fall back to doc_id on both engines.
_RES_K = 200
_RES_SALT = "res8"


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, source, n_chars,
             ROUND(
               ln(({md5_int_sql("doc_id", _RES_SALT, 13)} + 1.0)
                  / 4503599627370498.0)
               / GREATEST(CAST(n_chars AS DOUBLE), 1.0), 9) AS k
      FROM documents),
    topk AS (
      SELECT * FROM keyed ORDER BY k DESC, doc_id LIMIT {_RES_K})
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM topk GROUP BY lang, source ORDER BY lang, source
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED reservoir sample without replacement (Efraimidis–
    Spirakis A-ES), weight = document length: each doc draws a
    deterministic uniform u from the shared 52-bit md5 hash (h+1 over
    2^52+2, strictly inside (0,1)) and keys itself ln(u)/w; the global
    top-{k} by key is EXACTLY a weighted sample without replacement —
    the length-biased pick a token-budgeted corpus build wants
    (sample_weighted_hash is the Bernoulli/expected-rate twin; this is
    the exact-k twin). Output is the per-(lang, source) composition of
    the reservoir — the mix a curator actually inspects.

    Scale: one scan, map-side key arithmetic, global top-k via
    TakeOrderedAndProject (every partition keeps its local {k}, the
    driver merges k-sized heaps — NO global sort, no shuffle of the
    corpus). At 100 TB the reservoir never materializes more than
    n_partitions x {k} rows; the same key doubles as a streaming
    reservoir (keep the running top-k per micro-batch).

    Portability: u and w are bit-identical on both engines (md5-derived
    integer, exact double division); ln() may differ by 1 ulp between
    the JVM and libm, so the key is ROUNDed to 9 dp BEFORE ranking with
    doc_id as the total-order tiebreak — the selected set is then
    identical by construction."""
    d = catalog.load_table(spark, sf_dir, "documents")
    u = (md5_int("doc_id", _RES_SALT, 13) + F.lit(1.0)) / F.lit(
        H52_SPAN + 2.0
    )
    key = F.round(
        F.log(u) / F.greatest(F.col("n_chars").cast("double"), F.lit(1.0)), 9
    )
    topk = (
        d.select("doc_id", "lang", "source", "n_chars", key.alias("k"))
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(_RES_K)
    )
    return (
        topk.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("lang", "source")
    )


sample_weighted_reservoir.__doc__ = sample_weighted_reservoir.__doc__.format(
    k=_RES_K
)

# Bloom prefilter sizing: 2^16 bits = 1024 longs. Measured (2026-08):
# eval-shard gram cardinality 2,879 at sf0.01 (4.3% bit load;
# survivors 5.7% of train grams) and 25,886 at sf0.1 (32.8% load;
# survivors 33.4%) — the prefilter drops 94%/67% of clean grams
# map-side, and false positives only cost the exact join a lookup,
# never a wrong row. At 100 TB you size bits ~10x the eval-gram count
# (a few MB) exactly as this constant sizes the small SFs.
_BLOOM_BITS = 1 << 16
_BLOOM_WORDS = _BLOOM_BITS // 64


@register("decontaminate_bloom_prefilter", oracle=_DECONTAMINATE_ORACLE)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination, BLOOM-PREFILTERED twin — the 100 TB shape of
    decontaminate_ngram_overlap: the eval grams are folded into a
    {bits}-bit Bloom bitset ENTIRELY ENGINE-SIDE (xxhash64 → bit
    position, per-word masks OR-reduced by one bit_or aggregate —
    {words} longs total, scale-independent), collected once and
    inlined into the train-side plan as a literal array; the map-side
    bit test `arr[h/64] & (1<<h%64) != 0` discards clean grams BEFORE
    the join shuffle, and the exact join verifies survivors — false
    positives cost a lookup, never a wrong row, so the answer is
    IDENTICAL to the exact path (same oracle, answer-preserving by
    construction; the xxhash64 never touches the result). At 100 TB
    this replaces broadcasting the raw eval-gram set with a fixed-KB
    sketch — the standard contamination-check deployment.
    join_runtime_bloom_native is the engine-injected cousin on a
    fact/dim join; this one is EXPLICIT because the creation side is
    an exploded aggregate the InjectRuntimeFilter rule does not
    reach (and bloom_filter_agg is not a public SQL routine)."""
    toks = _tokenized(spark, sf_dir).withColumn("shard", _shard10(F.col("doc_id")))
    flat = materialize(
        toks.select(
            "doc_id", "shard", F.explode(tk.word_ngrams(F.col("w"), _NGRAM_N)).alias("gram")
        )
        .distinct(),
        eager=False,
    )
    train = flat.filter(F.col("shard") != 0).select("doc_id", "gram")
    eval_set = flat.filter(F.col("shard") == 0).select(
        F.col("doc_id").alias("eval_doc_id"), "gram"
    )
    # shiftleft's Python wrapper takes only a literal shift width, so
    # the position-dependent mask is spelled as a SQL expression.
    pos_sql = f"pmod(xxhash64(gram), {_BLOOM_BITS})"
    word = F.expr(f"cast({pos_sql} / 64 as int)")
    mask = F.expr(f"shiftleft(cast(1 as bigint), cast({pos_sql} % 64 as int))")
    rows = (
        eval_set.select(word.alias("w"), mask.alias("m"))
        .groupBy("w")
        .agg(F.bit_or("m").alias("bits"))
        .collect()
    )
    arr = [0] * _BLOOM_WORDS
    for r in rows:
        arr[r["w"]] = r["bits"]
    # One parsed SQL literal instead of F.array(*[F.lit(x)...]): the
    # 1024-element comprehension costs 2k+ py4j round trips (~7 s of
    # pure driver time measured at r12); a single expr() string parses
    # JVM-side in milliseconds. Same array<bigint> literal.
    bloom = F.expr("array(" + ",".join(f"{x}L" for x in arr) + ")")
    survivors = train.filter(
        F.element_at(bloom, word + 1).bitwiseAND(mask) != 0
    )
    return (
        survivors.join(F.broadcast(eval_set), "gram")
        .groupBy(F.col("doc_id").alias("train_doc_id"))
        .agg(
            F.countDistinct("gram").alias("n_shared_grams"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .orderBy("train_doc_id")
    )


decontaminate_bloom_prefilter.__doc__ = decontaminate_bloom_prefilter.__doc__.format(
    bits=_BLOOM_BITS, words=_BLOOM_WORDS
)


@register(
    "curation_canonical_by_quality",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             array_to_string({tk.letter_tokens_sql()}[1:8], ' ') AS ck
      FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY ck
               ORDER BY CASE WHEN lang = 'en' THEN 0 ELSE 1 END,
                        n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY ck) AS n_members
      FROM keyed)
    SELECT doc_id AS keep_doc_id, lang AS kept_lang,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn = 1 AND n_members >= 2
    ORDER BY keep_doc_id
    """,
)
def curation_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANONICAL SELECTION BY QUALITY — the keep-policy half of
    deduplication that the cluster queries leave open: within each
    duplicate cluster (here keyed by the 8-token prefix fingerprint —
    the passage-prefix near-dup key; exact-normalized clusters are
    empty below sf0.1, measured, so the exact key would be a vacuous
    verdict), keep the BEST copy
    under an explicit, total quality order (English first, then
    longest original text, then lowest doc_id as the deterministic
    tiebreak) instead of the arbitrary min-id the seen-set dedup
    (a5) implies. This is what production pipelines actually do —
    near-dup web pages keep the canonical-language, least-truncated
    capture — and the policy must be a TOTAL order or the kept set
    is partition-dependent; the tiebreak chain here certifies that.

    Scale: one hash-partitioned window keyed by the cluster hash —
    at 100 TB the norm_text key is replaced by the md5 fingerprint
    (dedup_exact_hash's key) so the shuffle carries 16-byte keys, and
    the policy rank rides the SAME window pass as the member count;
    no second scan, no join back."""
    d = catalog.load_table(spark, sf_dir, "documents").withColumn(
        "ck",
        F.array_join(F.slice(tk.letter_tokens(F.col("text")), 1, 8), " "),
    )
    w = Window.partitionBy("ck")
    rank_w = w.orderBy(
        F.when(F.col("lang") == "en", 0).otherwise(1),
        F.col("n_chars").desc(),
        F.col("doc_id"),
    )
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(rank_w).alias("rn"),
            F.count(F.lit(1)).over(w).alias("n_members"),
        )
        .filter((F.col("rn") == 1) & (F.col("n_members") >= 2))
        .select(
            F.col("doc_id").alias("keep_doc_id"),
            F.col("lang").alias("kept_lang"),
            "n_members",
        )
        .orderBy("keep_doc_id")
    )


@register(
    "sample_balanced_class",
    oracle="""
    WITH counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n_label
      FROM embeddings GROUP BY label),
    mn AS (SELECT MIN(n_label) AS m FROM counts),
    ranked AS (
      SELECT label, vec_id,
             row_number() OVER (PARTITION BY label
                                ORDER BY md5(CAST(vec_id AS VARCHAR) || 'bal10'),
                                         vec_id) AS rn
      FROM embeddings),
    kept AS (
      SELECT r.label, r.vec_id FROM ranked r, mn WHERE r.rn <= mn.m)
    SELECT k.label, c.n_label,
           CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(k.vec_id) AS BIGINT) AS kept_id_sum
    FROM kept k JOIN counts c ON c.label = k.label
    GROUP BY k.label, c.n_label ORDER BY k.label
    """,
)
def sample_balanced_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLASS-BALANCED downsampling — the standard treatment for label
    imbalance before classifier training: every class is cut to the
    MINORITY class's count by keeping each label's first m rows in a
    deterministic md5-keyed order (stable under re-ingestion and
    reproducible in SQL — the corpus_shuffle_epoch discipline; a
    random() sample would be unverifiable). The per-label kept-id SUM
    rides the output so the driver hash certifies the exact membership
    of every sample, not just its size.

    Scale: one count aggregate (broadcast one minimum back) + one
    rank-per-label window sharded by label — per-label sort state, no
    global order. For billion-row classes the same shape degrades
    gracefully to the hash-threshold form (keep where
    pmod(hash) < m/n_label) that sample_stratified_hash uses; the
    exact-m window form here is the verifiable variant."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).cast("bigint").alias("n_label"))
    mn = counts.agg(F.min("n_label").alias("m"))
    ranked = emb.select(
        "label",
        "vec_id",
        F.row_number()
        .over(
            Window.partitionBy("label").orderBy(
                F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("bal10"))),
                "vec_id",
            )
        )
        .alias("rn"),
    )
    kept = ranked.crossJoin(F.broadcast(mn)).filter(F.col("rn") <= F.col("m"))
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            F.sum("vec_id").cast("bigint").alias("kept_id_sum"),
        )
        .join(F.broadcast(counts), "label")
        .select("label", "n_label", "n_kept", "kept_id_sum")
        .orderBy("label")
    )


_SKYLINE_SHARDS = 32


def skyline_2d(
    df: DataFrame, d1: str, d2: str, shard_key: str
) -> DataFrame:
    """TWO-PHASE 2-D SKYLINE under strict dominance (maximize both
    axes): phase 1 computes each deterministic shard's LOCAL front —
    any point dominated within a shard is dominated globally, so
    shards prune independently in parallel (no global sort of the
    corpus); phase 2 runs the same window dominance test over the
    surviving local fronts (typically thousands of rows). Within a
    frame, u is on the front iff its d2 equals its own d1-group max
    AND strictly exceeds the running d2-max over all strictly-larger
    d1 (a RANGE frame from d1+1 to unbounded). Equal-(d1, d2)
    duplicates dominate nothing and are all kept. Shards come from a
    hash of ``shard_key`` (content-deterministic — plan-stable across
    runs and partitionings, unlike spark_partition_id).

    Measured (SCALE.md §r11): the single-pass form was 12.3× wall at
    10× documents (one single-partition window sort); two-phase
    shards the sort 32 ways and the global pass sees only fronts.

    Adversarial bound (VERDICT r11 #5): phase-2 input is at most
    Σ_shards |local front(shard)|. On an ANTI-CHAIN (all points
    pairwise incomparable — the 2-D worst case) nothing is ever
    dominated, every local front is its whole shard, and phase 2
    re-sorts all n rows in ONE partition — the two-phase form then
    degrades to the single-pass cost but stays CORRECT (pinned by
    tests/test_round12_ops.py::test_skyline_antichain_all_survive).
    Real quality/length corpora are far from anti-chains (measured
    fronts: 8-20 points across SFs); a d>2 or adversarial workload
    would move phase 2 to a recursive shard-merge tree."""
    from pyspark.sql.window import Window as W

    def front(frame: DataFrame, extra_part: list[str]) -> DataFrame:
        wg = W.partitionBy(*extra_part, d1)
        wr = (
            W.partitionBy(*extra_part)
            .orderBy(d1)
            .rangeBetween(1, W.unboundedFollowing)
        )
        return (
            frame.withColumn("_gmax", F.max(d2).over(wg))
            .withColumn("_rmax", F.max(d2).over(wr))
            .filter(
                (F.col(d2) == F.col("_gmax"))
                & (F.col("_rmax").isNull() | (F.col(d2) > F.col("_rmax")))
            )
            .drop("_gmax", "_rmax")
        )

    local = front(
        df.withColumn(
            "_shard", F.pmod(F.xxhash64(F.col(shard_key)), F.lit(_SKYLINE_SHARDS))
        ),
        ["_shard"],
    ).drop("_shard")
    return front(local, [])


@register(
    "curation_pareto_front",
    oracle="""
    WITH d AS (
      SELECT doc_id, CAST(n_chars AS BIGINT) AS len_chars,
             (CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
              * 1000000)
             // CAST(len(string_split(text, ' ')) AS BIGINT) AS uniq_ppm
      FROM documents)
    SELECT u.doc_id, u.len_chars, u.uniq_ppm
    FROM d u
    WHERE NOT EXISTS (
      SELECT 1 FROM d v
      WHERE v.len_chars >= u.len_chars AND v.uniq_ppm >= u.uniq_ppm
        AND (v.len_chars > u.len_chars OR v.uniq_ppm > u.uniq_ppm))
    ORDER BY u.len_chars DESC, u.uniq_ppm DESC, u.doc_id
    """,
)
def curation_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARETO FRONT (skyline) of the document corpus on (length,
    lexical diversity) — the docs no other doc beats on BOTH axes:
    the classic SKYLINE operator, used in curation to pick the
    "efficient frontier" of candidates when two quality signals
    trade off (long docs repeat themselves; diverse docs are short)
    instead of collapsing them into one arbitrary weighted score.
    Axes: n_chars (maximize) and distinct-word ratio in integer ppm
    (maximize) — both exact integers, split on the literal space so
    tokenization is engine-identical.

    The oracle runs the textbook NOT EXISTS dominance test (O(n²) —
    fine at oracle scale); the Spark side is the TWO-PHASE window
    skyline (skyline_2d): 32 deterministic shards prune their local
    fronts in parallel, then the global pass sees only survivors —
    the first single-pass form measured 12.3× wall at 10× documents
    on its single-partition sort, so the two-phase form is the
    registered one. Strict-dominance semantics (duplicates all kept)
    match the oracle exactly and are pinned vs brute force in
    tests/test_round11_ops.py."""
    d = catalog.load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("len_chars"),
        F.expr(
            "(CAST(size(array_distinct(split(text, ' '))) AS BIGINT)"
            " * 1000000) div CAST(size(split(text, ' ')) AS BIGINT)"
        ).alias("uniq_ppm"),
    )
    return skyline_2d(d, "len_chars", "uniq_ppm", "doc_id").orderBy(
        F.col("len_chars").desc(), F.col("uniq_ppm").desc(), "doc_id"
    )
