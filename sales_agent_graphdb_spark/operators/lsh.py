"""Near-duplicate detection operators: MinHash+LSH, SimHash, n-gram
Jaccard — the training-data dedup family, built for the 100 TB shape:
signatures are computed map-side with built-in higher-order functions
(no Python), candidate generation is a band-bucket equi-join (shuffle
on short keys only), and exact verification runs only on candidates.

Public-knowledge algorithms: Broder's MinHash (shingle → k hash mins),
banding LSH from Mining of Massive Datasets ch.3, Charikar's SimHash.

Shingle size default is k=5 (MMDS ch.3 guidance: k large enough that
unrelated documents rarely share a shingle). Measured at sf0.1, k=4 →
k=5 cut band-bucket candidate pairs ~30× (common English 4-grams
collide constantly) and the cascade's wall in half, with an identical
verified pair set on the planted-duplicate corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.session import materialize


def normalized(c: Column) -> Column:
    return F.regexp_replace(F.lower(c), r"[^a-z0-9 ]", "")


def char_shingles(c: Column, k: int = 5) -> Column:
    """Distinct k-char shingles of a normalized text column
    (array<string>), built with sequence→transform — no explode, the
    set stays row-local.

    NOTE (hot-path caveat): ``norm`` is an expression INSIDE the
    lambda, so it re-evaluates (regex over the full text) once per
    shingle position — fine for small/candidate sets, ruinous for a
    full-corpus scan (~300 regex evals per row). Bulk paths must use
    ``shingle_tokens``/``shingle_sets`` below, which materialize the
    normalization once per row behind a Generate barrier."""
    norm = normalized(c)
    n_pos = F.greatest(F.length(norm) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_pos), lambda p: norm.substr(p, F.lit(k)))
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a NARROW input up to default parallelism before a
    generator stage. An explode multiplies row count ~300× here, so
    whatever parallelism the scan produced is what the expensive
    post-explode work is stuck with — a single small parquet file
    (one row group, unsplittable) serializes the whole pipeline.
    Shuffling the skinny pre-explode rows costs ~nothing relative to
    the expansion. Gated: at 100 TB the scan already has far more
    partitions than cores and this is a no-op."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


def shingle_tokens(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, g) — one row per k-shingle occurrence. The normalization
    projects in its own Project node and the position expansion is a
    Generate (explode), so the regex runs once per document and the
    per-position substr reads a materialized attribute. This is the
    bulk shingling path (and already the shape MinHash aggregation
    wants)."""
    normed = _spread(df).select(
        F.col(id_col).alias("id"), normalized(F.col(text_col)).alias("norm")
    )
    pos = normed.select(
        "id",
        "norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1)))
        ).alias("p"),
    )
    return pos.select("id", F.col("norm").substr(F.col("p"), F.lit(k)).alias("g"))


def shingle_sets(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 5
) -> DataFrame:
    """(id, sh: array<string>) distinct shingle sets via the bulk path
    (explode → collect_set)."""
    return (
        shingle_tokens(df, text_col, id_col, k)
        .groupBy("id")
        .agg(F.collect_set("g").alias("sh"))
    )


def word_tokens(c: Column) -> Column:
    return F.split(F.trim(normalized(c)), r"\s+")


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two array columns (JVM set ops)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def _rot(c: Column, i: int) -> Column:
    """64-bit rotate-left by a constant (shift/xor only — safe under
    ANSI mode where multiplicative mixing could overflow)."""
    i %= 64
    if i == 0:
        return c
    return F.shiftleft(c, i).bitwiseOR(F.shiftrightunsigned(c, 64 - i))


def minhash_sigs(tokens: DataFrame, n_hashes: int = 32) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signatures from a (id, g) token stream
    via double hashing (Kirsch-Mitzenmacher): two independent 64-bit
    string hashes per shingle occurrence, mixed into n_hashes family
    members as h_i = g1 XOR rot_i(g2) — 2 string hashes + cheap long
    ops per row instead of n_hashes string hashes. One narrow,
    map-side-combinable shuffle of (id, n_hashes longs)."""
    base = tokens.select(
        "id", F.xxhash64("g").alias("g1"), F.xxhash64("g", F.lit(1)).alias("g2")
    )
    hashed = base.select(
        "id",
        *[
            F.col("g1").bitwiseXOR(_rot(F.col("g2"), i)).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        *[F.min(f"h{i}").alias(f"h{i}") for i in range(n_hashes)]
    )


def band_rows(sig: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """Skinny (id, band, bucket) rows — bucket = hash of the band's
    signature slice; no payload rides the candidate-join shuffle."""
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"h{b * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    est_margin: float = 0.0,
) -> DataFrame:
    """MinHash+LSH near-dup pairs as a 3-stage cascade: (1) band-bucket
    equi-join over skinny (id, band, bucket) rows → candidates; (2)
    signature-agreement estimate filter (32 long equalities/pair) →
    survivors; (3) exact-Jaccard verify over hashed shingle sets.
    Returns (id_a, id_b, jaccard_sim) with id_a < id_b; jaccard is
    computed on xxhash64'd shingles (collision probability ~2^-64).

    Scale notes: signatures come from an explode → 32-partial-min
    aggregation (one narrow shuffle, map-side combinable); no payload
    rides the candidate join; each cascade stage cuts the pair count
    ~10-100× before the next pays more per pair. ``max_bucket_size``
    skips band-buckets larger than the cap — buckets that big are
    boilerplate/template clusters whose O(n²) pair expansion dominates
    the join (a 334-member bucket alone is 55k pairs); their true
    near-dups still have n_bands-1 other chances to collide in a small
    bucket. At 100 TB the cap is mandatory (it also bounds skew);
    AQE skew-join covers what remains here."""
    rows_per_band = n_hashes // n_bands
    # Signature via explode → n_hashes partial-min aggregates: one
    # narrow shuffle of (id, 32 longs); duplicates among shingles
    # don't change the min, so no array_distinct on the hot path.
    # (A single nested-HOF expression would be re-inlined by
    # CollapseProject and re-evaluate the shingle array once per
    # seed — O(seeds · |shingles|²) interpreted work per row.)
    # tokens and sig: first consumer is the eager `survivors` build below.
    tokens = materialize(shingle_tokens(df, text_col, id_col, shingle_k), eager=False)
    sig = materialize(minhash_sigs(tokens, n_hashes), eager=False)
    banded = band_rows(sig, n_bands, rows_per_band)

    if max_bucket_size is not None:
        # Hot-bucket cap: drop band-buckets whose quadratic pair
        # expansion would dominate (template/boilerplate clusters).
        # One extra agg over the skinny (band, bucket) rows. Broadcast
        # the OVERSIZED buckets (a handful of template clusters, bounded
        # regardless of corpus size) and anti-join — broadcasting the
        # under-cap whitelist would ship O(n_docs · n_bands) rows and
        # itself break at scale.
        big = (
            banded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(F.broadcast(big), ["band", "bucket"], "left_anti")
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # Cascade stage 2 — signature-agreement estimate (E[matches/n] =
    # Jaccard): 32 long equalities per pair vs an array intersect, so
    # the dense sub-threshold candidate mass (vocab overlap) is pruned
    # ~100× cheaper than exact verification. est_margin=0 by default:
    # borderline pairs (J near θ) are already mostly lost to banding
    # (keep-prob ~40% at J=θ), so a margin mostly admits sub-threshold
    # survivor mass into exact verification — the most expensive
    # per-pair stage. Measured at sf0.1: margin 0.05→0 cut survivors
    # 64k→39k and verify wall 3.2s→1.9s with an identical final pair
    # set; corpus recall stays ≥0.95 (pytest). Raise the margin only
    # when borderline recall matters more than verify cost.
    est_threshold = max(jaccard_threshold - est_margin, 0.0)
    # NO broadcast hint on the signature joins: the sig table is
    # O(n_docs) rows, and forcing a broadcast of it would be the same
    # non-scaling shape as broadcasting a bucket whitelist. Unhinted,
    # AQE picks broadcast when sig is actually small (local/test scale)
    # and a shuffle join on id at corpus scale — both correct, chosen
    # at runtime from measured sizes.
    sa = sig.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    sb = sig.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    agree = None
    for i in range(n_hashes):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    # Eager: the sh broadcast build and the final pair join read it concurrently.
    survivors = materialize(
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .filter((agree / float(n_hashes)) >= est_threshold)
        .select("id_a", "id_b"),
        eager=True,
    )
    # Cascade stage 3 — exact-Jaccard verify on survivors only, over
    # HASHED shingle sets (long compares, not 4-char strings); one
    # intersect per pair, union size derived from set sizes.
    cand_ids = (
        survivors.select(F.col("id_a").alias("cid"))
        .unionByName(survivors.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    # Eager: the a-side and b-side broadcast builds read it concurrently.
    sh = materialize(
        tokens.join(cand_ids, F.col("id") == F.col("cid"), "left_semi")
        .groupBy("id")
        .agg(F.collect_set(F.xxhash64("g")).alias("sh"))
        .withColumn("n", F.size("sh")),
        eager=True,
    )
    # Broadcast the per-doc shingle-set table (survivor docs only, a
    # few MB of hashed-long arrays) so the pair join stays map-side —
    # a shuffle join here moves every array once per incident pair.
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        survivors.join(
            F.broadcast(
                sh.select(
                    F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na")
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sh.select(
                    F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb")
                )
            ),
            "id_b",
        )
        .withColumn("jaccard_sim", inter / (F.col("na") + F.col("nb") - inter))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def minhash_lsh_join(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Incremental near-dup detection: match a NEW BATCH against an
    EXISTING CORPUS — the production dedup shape (nightly batch vs
    100 TB corpus), where all-pairs over the union would redo the
    corpus-vs-corpus work every run. Returns (new_id, corpus_id,
    jaccard_sim) with exact Jaccard >= threshold.

    Same cascade as ``minhash_lsh_pairs`` but the band-bucket join is
    BETWEEN sides (new bands ⋈ corpus bands), so cost scales with
    |batch| · collision-rate, never |corpus|²: corpus band rows are
    (re)computed here, but at scale they are the materialized
    signature index (write once at ingest — the same pattern as
    operators/ann.write_lsh_index), making a nightly run's join input
    |batch|·n_bands skinny rows against a bucketed index.
    ``max_bucket_size`` caps template-cluster buckets on the corpus
    side only (the batch side is already bounded)."""
    rows_per_band = n_hashes // n_bands
    toks_new = materialize(shingle_tokens(new_df, text_col, id_col, shingle_k), eager=False)
    toks_cor = materialize(shingle_tokens(corpus_df, text_col, id_col, shingle_k), eager=False)
    sig_new = materialize(minhash_sigs(toks_new, n_hashes), eager=False)
    sig_cor = materialize(minhash_sigs(toks_cor, n_hashes), eager=False)
    bands_new = band_rows(sig_new, n_bands, rows_per_band)
    bands_cor = band_rows(sig_cor, n_bands, rows_per_band)
    if max_bucket_size is not None:
        big = (
            bands_cor.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket_size)
            .select("band", "bucket")
        )
        bands_cor = bands_cor.join(F.broadcast(big), ["band", "bucket"], "left_anti")
    cand = (
        bands_new.alias("n")
        .join(
            bands_cor.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("c.id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    # Estimate filter (unhinted joins — AQE broadcasts small sides).
    sa = sig_new.select(
        F.col("id").alias("new_id"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)],
    )
    sb = sig_cor.select(
        F.col("id").alias("corpus_id"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)],
    )
    agree = None
    for i in range(n_hashes):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    survivors = materialize(
        cand.join(sa, "new_id")
        .join(sb, "corpus_id")
        .filter((agree / float(n_hashes)) >= jaccard_threshold)
        .select("new_id", "corpus_id"),
        eager=False,
    )
    # Exact verify on survivors, hashed shingle sets per side.
    def _sets(tokens: DataFrame, ids: DataFrame) -> DataFrame:
        return (
            tokens.join(ids, F.col("id") == F.col("cid"), "left_semi")
            .groupBy("id")
            .agg(F.collect_set(F.xxhash64("g")).alias("sh"))
            .withColumn("n", F.size("sh"))
        )

    sh_new = _sets(toks_new, survivors.select(F.col("new_id").alias("cid")).distinct())
    sh_cor = _sets(
        toks_cor, survivors.select(F.col("corpus_id").alias("cid")).distinct()
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        survivors.join(
            F.broadcast(
                sh_new.select(
                    F.col("id").alias("new_id"),
                    F.col("sh").alias("sh_a"),
                    F.col("n").alias("na"),
                )
            ),
            "new_id",
        )
        .join(
            F.broadcast(
                sh_cor.select(
                    F.col("id").alias("corpus_id"),
                    F.col("sh").alias("sh_b"),
                    F.col("n").alias("nb"),
                )
            ),
            "corpus_id",
        )
        .withColumn("jaccard_sim", inter / (F.col("na") + F.col("nb") - inter))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select("new_id", "corpus_id", "jaccard_sim")
    )


def simhash(c: Column, n_bits: int = 64) -> Column:
    """Charikar SimHash over word tokens, represented as an n_bits-char
    '0'/'1' string: per bit j, sign of Σ_tokens (bit_j(xxhash64(token))
    ? +1 : -1). The string form keeps everything inside built-in
    higher-order functions (bit shifts by a *column* amount don't
    exist as JVM expressions) and banding/hamming work on substrings."""
    toks = word_tokens(c)
    # each token hash as a 64-char two's-complement bit string
    tok_bits = F.transform(
        toks, lambda t: F.lpad(F.bin(F.xxhash64(t)), 64, "0")
    )

    def bit(j: Column) -> Column:
        # +1 if bit j of the token hash is 1 else -1, summed over tokens
        total = F.aggregate(
            tok_bits,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(h.substr(j + 1, F.lit(1)) == "1", 1).otherwise(-1),
        )
        return F.when(total > 0, "1").otherwise("0")

    return F.array_join(
        F.transform(F.sequence(F.lit(0), F.lit(n_bits - 1)), lambda j: bit(j.cast("int"))),
        "",
    )


def hamming_bits(a: Column, b: Column) -> Column:
    """Hamming distance between two equal-length bit strings."""
    return F.size(
        F.filter(
            F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: x != y),
            lambda d: d,
        )
    )


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n_bits: int = 64
) -> DataFrame:
    """(id, sh bitstring) via the bulk path: explode word tokens, hash
    each ONCE, then n_bits signed-count aggregates (map-side partial).
    The expression form ``simhash`` re-evaluates the whole token-hash
    chain per bit (64× per row) — this shape hashes once per token and
    shuffles only (id, 64 longs)."""
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(word_tokens(F.col(text_col))).alias("t")
    )
    hashed = toks.select("id", F.xxhash64("t").alias("h"))
    # MSB-first to match simhash()'s bin()-string convention.
    sums = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), 63 - j).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(n_bits)
        ]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_bits)
        ]
    )
    return sums.select("id", sig.alias("sh"))


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ max_hamming, candidates
    via 4×16-bit chunk banding (pigeonhole: ≤3 differing bits leave ≥1
    of 4 chunks identical)."""
    if max_hamming > 3:
        raise ValueError(
            "simhash_near_dup_pairs: 4-chunk banding only guarantees "
            f"candidates for hamming <= 3, got max_hamming={max_hamming} "
            "(pairs beyond 3 would be silently missed)"
        )
    base = simhash_signatures(df, text_col, id_col)
    banded = base.select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.struct(
                    i.cast("int").alias("chunk"),
                    F.col("sh").substr(i * 16 + 1, F.lit(16)).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "sh", F.col("bb.chunk").alias("chunk"), F.col("bb.bucket").alias("bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("hamming", hamming_bits(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Engine-portable MinHash-LSH (md5 hash family) — the ORACLE-CHECKABLE
# twin of minhash_lsh_pairs. Same cascade (shingle → minhash → band →
# bucket join → exact-Jaccard verify) but every hash is md5-derived,
# which DuckDB reproduces bit-for-bit, so the driver can hash-check the
# full LSH pipeline end-to-end instead of trusting rows-only + pytest
# recall. The xxhash64 variant stays the performance path (one JVM
# hash vs md5's 128-bit digest per shingle-seed).
# ---------------------------------------------------------------------------


def _portable_hash(s: Column, seed: Column) -> Column:
    """60-bit hash from md5(s + '#' + seed) — identical in DuckDB as
    CAST(('0x' || substr(md5(s || '#' || seed), 1, 15)) AS BIGINT)."""
    return F.conv(
        F.substring(F.md5(F.concat(s, F.lit("#"), seed.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def _portable_signatures(toks: DataFrame, n_hashes: int) -> DataFrame:
    """(id, mh0..mh{n_hashes-1}): each doc's md5-family MinHash
    signature over its distinct shingle tokens (id, g).

    All n_hashes hashes are computed once per DISTINCT gram (the
    dictionary is vocabulary-bounded) and broadcast-joined back, so the
    signature is one grouped pass of n_hashes partial mins, not an
    n_hashes-way seed explode of every token occurrence. Bit-identical
    to the explode form (same md5 on the same strings, min over the
    same per-doc set); pinned by tests/test_r13_optimizations.py and the
    portable twins' driver hashes. A dictionary too large to broadcast
    (>10^8 grams) needs the hint removed; the hashing saving stays."""
    # Eager: the broadcast build is the first reader.
    gh = materialize(
        toks.select("g").distinct().select(
            "g",
            *[
                _portable_hash(F.col("g"), F.lit(s)).alias(f"h{s}")
                for s in range(n_hashes)
            ],
        ),
        eager=True,
    )
    return (
        toks.join(F.broadcast(gh), "g")
        .groupBy("id")
        .agg(*[F.min(F.col(f"h{s}")).alias(f"mh{s}") for s in range(n_hashes)])
    )


def _band_buckets(sig: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """(id, band, bucket) rows from a ``_portable_signatures`` frame,
    derived map-side. Bucket = md5 of the band's seed-ordered minhash
    concat, reproduced in SQL as md5(string_agg(.. ORDER BY seed));
    concat_ws would skip a null min, but every doc has >= 1 token, so
    every min is defined.
    Raises ValueError unless n_bands divides n_hashes (a remainder would
    silently drop the trailing hashes from every band)."""
    if n_bands <= 0 or n_hashes % n_bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a multiple of n_bands ({n_bands})"
        )
    rows_per_band = n_hashes // n_bands
    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{rows_per_band * b + r}").cast("string")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _portable_banded(
    toks: DataFrame, n_hashes: int, n_bands: int
) -> DataFrame:
    """(id, band, bucket) rows from distinct shingle tokens via the md5
    hash family — the banded-signature stage shared by the portable
    pairs/join/cluster twins."""
    return _band_buckets(_portable_signatures(toks, n_hashes), n_hashes, n_bands)


def minhash_lsh_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with a deterministic, engine-portable
    hash family. Output = candidate pairs sharing ≥1 band bucket whose
    exact shingle Jaccard ≥ threshold — fully reproducible in SQL (no
    estimate filter or bucket cap in this variant, so the output is a
    pure function of the md5 family; those stages only prune cost, and
    the perf twin keeps them).

    Shape is identical to the scale path: skinny (id, band, bucket)
    rows for the candidate join, shingle sets joined back only for the
    verified candidates, and every aggregation map-side combinable."""
    toks = shingle_tokens(df, text_col, id_col, shingle_k).distinct()
    toks = materialize(toks, eager=False)  # feeds minhash AND verify
    banded = _portable_banded(toks, n_hashes, n_bands)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sets = toks.groupBy("id").agg(F.collect_set("g").alias("gs"))
    sa = sets.select(F.col("id").alias("id_a"), F.col("gs").alias("gs_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("gs").alias("gs_b"))
    inter = F.size(F.array_intersect(F.col("gs_a"), F.col("gs_b"))).cast("double")
    union = F.size(F.array_union(F.col("gs_a"), F.col("gs_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
    )


def minhash_lsh_join_portable(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    n_bands: int = 4,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Incremental (batch-vs-corpus) near-dup join with the
    engine-portable md5 hash family — the oracle-checkable twin of
    minhash_lsh_join. Same incremental shape (new bands ⋈ corpus bands,
    cost |batch|·collisions, never |corpus|²), no estimate filter or
    bucket cap so the output is a pure function of the hash family.
    Returns (new_id, corpus_id, jaccard_sim) with exact Jaccard ≥
    threshold."""
    toks_new = shingle_tokens(new_df, text_col, id_col, shingle_k).distinct()
    toks_cor = shingle_tokens(corpus_df, text_col, id_col, shingle_k).distinct()
    toks_new = materialize(toks_new, eager=False)
    toks_cor = materialize(toks_cor, eager=False)
    bands_new = _portable_banded(toks_new, n_hashes, n_bands)
    bands_cor = _portable_banded(toks_cor, n_hashes, n_bands)
    cand = (
        bands_new.alias("n")
        .join(
            bands_cor.alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket")),
        )
        .select(F.col("n.id").alias("new_id"), F.col("c.id").alias("corpus_id"))
        .dropDuplicates(["new_id", "corpus_id"])
    )
    sa = toks_new.groupBy("id").agg(F.collect_set("g").alias("gs_a"))
    sb = toks_cor.groupBy("id").agg(F.collect_set("g").alias("gs_b"))
    inter = F.size(F.array_intersect(F.col("gs_a"), F.col("gs_b"))).cast("double")
    union = F.size(F.array_union(F.col("gs_a"), F.col("gs_b")))
    return (
        cand.join(sa.withColumnRenamed("id", "new_id"), "new_id")
        .join(sb.withColumnRenamed("id", "corpus_id"), "corpus_id")
        .select("new_id", "corpus_id", (inter / union).alias("jaccard_sim"))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
    )


def simhash_portable_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with the engine-portable md5 hash family —
    the oracle-checkable twin of simhash_near_dup_pairs (same Charikar
    construction, same pigeonhole banding, xxhash64 swapped for the
    60-bit md5 hash DuckDB reproduces). 60 signature bits in 4×15-bit
    chunks: ≤3 differing bits still leave ≥1 of 4 chunks identical, so
    the pigeonhole candidate guarantee is unchanged."""
    if max_hamming > 3:
        raise ValueError(
            "simhash_portable_pairs: 4-chunk banding only guarantees "
            f"candidates for hamming <= 3, got max_hamming={max_hamming}"
        )
    n_bits, n_chunks, chunk_len = 60, 4, 15
    toks = _spread(df).select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens(F.col(text_col))).alias("t"),
    )
    hashed = toks.select(
        "id", _portable_hash(F.col("t"), F.lit(0)).alias("h")
    )
    # MSB-first over the 60-bit value, matching substr-based banding.
    sums = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), n_bits - 1 - j).bitwiseAND(F.lit(1))
                    == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(n_bits)
        ]
    )
    sig = F.concat(
        *[
            F.when(F.col(f"b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
            for j in range(n_bits)
        ]
    )
    sigs = sums.select("id", sig.alias("sh"))
    banded = sigs.select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n_chunks - 1)),
                lambda i: F.struct(
                    i.cast("int").alias("chunk"),
                    F.col("sh")
                    .substr(i * chunk_len + 1, F.lit(chunk_len))
                    .alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(
        "id", "sh", F.col("bb.chunk").alias("chunk"), F.col("bb.bucket").alias("bucket")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("a.sh").alias("sh_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn(
            "hamming", hamming_bits(F.col("sh_a"), F.col("sh_b")).cast("int")
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
