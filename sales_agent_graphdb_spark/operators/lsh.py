"""Near-duplicate detection operators: MinHash+LSH, SimHash, n-gram
Jaccard — the training-data dedup family, built for the 100 TB shape:
signatures are computed map-side with built-in higher-order functions
(no Python), candidate generation is a band-bucket equi-join (shuffle
on short keys only), and exact verification runs only on candidates.

Public-knowledge algorithms: Broder's MinHash (shingle → k hash mins),
banding LSH from Mining of Massive Datasets ch.3, Charikar's SimHash.

Two hash families, one code path per algorithm: ``portable=False``
(the default) hashes with xxhash64, the performance family;
``portable=True`` hashes with ``_portable_hash`` (md5-derived), which
DuckDB reproduces bit-for-bit, so the oracles can hash-check the whole
pipeline. The md5 family also turns off the MinHash stages that only
prune cost (the signature-agreement filter and the bucket cap), which
makes the output a pure function of the hash family.

Shingle size default is k=5 (MMDS ch.3 guidance: k large enough that
unrelated documents rarely share a shingle). Measured at sf0.1, k=4 →
k=5 cut band-bucket candidate pairs ~30× (common English 4-grams
collide constantly) and the cascade's wall in half, with an identical
verified pair set on the planted-duplicate corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.functions.scalar import md5_int
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.session import materialize


def char_shingles(c: Column, k: int = 5) -> Column:
    """Distinct k-char shingles of a normalized text column
    (array<string>), built with sequence→transform — no explode, the
    set stays row-local.

    NOTE (hot-path caveat): ``norm`` is an expression INSIDE the
    lambda, so it re-evaluates (regex over the full text) once per
    shingle position — fine for small/candidate sets, ruinous for a
    full-corpus scan (~300 regex evals per row). Bulk paths must use
    ``shingle_tokens`` below, which materializes the normalization
    once per row behind a Generate barrier."""
    norm = tk.shingle_norm(c)
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
        F.col(id_col).alias("id"), tk.shingle_norm(F.col(text_col)).alias("norm")
    )
    pos = normed.select(
        "id",
        "norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("norm") - (k - 1), F.lit(1)))
        ).alias("p"),
    )
    return pos.select("id", F.col("norm").substr(F.col("p"), F.lit(k)).alias("g"))


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


def _portable_hash(s: Column, seed: Column) -> Column:
    """60-bit hash of s + '#' + seed — identical in DuckDB as
    md5_int_sql("s || '#' || seed")."""
    return md5_int(F.concat(s, F.lit("#"), seed.cast("string")))


def _signatures(tokens: DataFrame, n_hashes: int, portable: bool) -> DataFrame:
    """(id, h0..h{n_hashes-1}) MinHash signatures of an (id, g) token
    stream: one grouped pass of n_hashes partial mins (one narrow,
    map-side-combinable shuffle of (id, n_hashes longs)). Duplicate
    tokens do not change a min, so no distinct is needed.

    xxhash64 family: double hashing (Kirsch-Mitzenmacher) — two 64-bit
    string hashes per token, mixed into the n_hashes members as
    h_i = g1 XOR rot_i(g2). (A single nested-HOF expression would be
    re-inlined by CollapseProject and re-evaluate the shingle array
    once per seed.)

    md5 family: all n_hashes hashes are computed once per DISTINCT
    gram (the dictionary is vocabulary-bounded) and broadcast-joined
    back, instead of an n_hashes-way seed explode of every token;
    bit-identical to the explode form (pinned by
    tests/test_r13_optimizations.py). A dictionary too large to
    broadcast (>10^8 grams) needs the hint removed."""
    if portable:
        # Eager: the broadcast build is the first reader.
        gh = materialize(
            tokens.select("g").distinct().select(
                "g",
                *[_portable_hash(F.col("g"), F.lit(s)).alias(f"h{s}") for s in range(n_hashes)],
            ),
            eager=True,
        )
        hashed = tokens.join(F.broadcast(gh), "g")
    else:
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


def _bands(sig: DataFrame, n_hashes: int, n_bands: int, portable: bool) -> DataFrame:
    """Skinny (id, band, bucket) rows from a ``_signatures`` frame,
    derived map-side; no payload rides the candidate-join shuffle.
    The bucket hashes the band's signature slice: xxhash64 of the
    longs, or md5 of the comma-joined decimal mins, which SQL
    reproduces as md5(string_agg(.. ORDER BY seed)) (every doc has
    >= 1 token, so no min is null for concat_ws to skip).
    Raises ValueError unless n_bands divides n_hashes: a remainder
    would silently drop the trailing hashes from every band."""
    if n_bands <= 0 or n_hashes % n_bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a multiple of n_bands ({n_bands})"
        )
    rows_per_band = n_hashes // n_bands

    def bucket(b: int) -> Column:
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        if portable:
            return F.md5(F.concat_ws(",", *[c.cast("string") for c in cols]))
        return F.xxhash64(*cols)

    return sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).cast("int").alias("band"), bucket(b).alias("bucket"))
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def _candidates(left: DataFrame, right: DataFrame | None) -> DataFrame:
    """The band-bucket candidate join: distinct (id_a, id_b) pairs of
    (id, band, bucket) rows that share a bucket in any band.
    ``right=None`` self-joins ``left`` with id_a < id_b (each pair
    once); otherwise id_a comes from ``left`` and id_b from ``right``
    (batch vs corpus)."""
    on = (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
    if right is None:
        right = left
        on = on & (F.col("a.id") < F.col("b.id"))
    return (
        left.alias("a")
        .join(right.alias("b"), on)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _with_agreement(
    pairs: DataFrame, sig_a: DataFrame, sig_b: DataFrame, n_hashes: int
) -> DataFrame:
    """(id_a, id_b, n_agree): how many of the n_hashes signature
    members each pair shares (n_agree / n_hashes is the MinHash
    estimate of Jaccard). NO broadcast hint: a signature table is
    O(n_docs) rows, so AQE picks broadcast when it is actually small
    and a shuffle join on id at corpus scale."""
    sa = sig_a.select(
        F.col("id").alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(n_hashes)]
    )
    sb = sig_b.select(
        F.col("id").alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(n_hashes)]
    )
    agree = None
    for i in range(n_hashes):
        t = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = t if agree is None else agree + t
    return pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", agree.alias("n_agree")
    )


def _minhash_cascade(
    left: DataFrame,
    right: DataFrame | None,
    text_col: str,
    id_col: str,
    n_hashes: int,
    n_bands: int,
    shingle_k: int,
    jaccard_threshold: float,
    max_bucket_size: int | None,
    portable: bool,
) -> DataFrame:
    """(id_a, id_b, jaccard_sim) pairs with exact shingle Jaccard >=
    threshold; ``right=None`` is the self-join over ``left``, otherwise
    ``left`` is matched against ``right``. Stages: shingle → sign →
    band → candidate join → (xxhash64 only) hot-bucket cap and
    signature-agreement filter → exact verify over the hashed shingle
    sets of the surviving docs. Each stage cuts the pair count ~10-100×
    before the next pays more per pair."""
    sides = [left] if right is None else [left, right]
    # tokens and sigs: first consumer is the eager `survivors` build
    # below (for the md5 family, the gram-dictionary build).
    toks = [
        materialize(shingle_tokens(d, text_col, id_col, shingle_k), eager=False)
        for d in sides
    ]
    sigs = [materialize(_signatures(t, n_hashes, portable), eager=False) for t in toks]
    bands = [_bands(s, n_hashes, n_bands, portable) for s in sigs]
    if max_bucket_size is not None and not portable:
        # Hot-bucket cap (on the corpus side in join mode): broadcast
        # the OVERSIZED buckets (a handful of template clusters,
        # bounded regardless of corpus size) and anti-join them away —
        # broadcasting the under-cap whitelist would ship
        # O(n_docs · n_bands) rows and itself break at scale.
        big = (
            bands[-1].groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("bsz"))
            .filter(F.col("bsz") > max_bucket_size)
            .select("band", "bucket")
        )
        bands[-1] = bands[-1].join(F.broadcast(big), ["band", "bucket"], "left_anti")
    cand = _candidates(bands[0], None if right is None else bands[1])
    if not portable:
        # Signature-agreement estimate (E[n_agree/n] = Jaccard): n long
        # equalities per pair instead of an array intersect, so the
        # dense sub-threshold candidate mass is pruned ~100× cheaper
        # than exact verification. No margin below the threshold:
        # borderline pairs are mostly lost to banding already, and a
        # margin of 0.05 at sf0.1 only grew survivors 39k → 64k (verify
        # 1.9 s → 3.2 s) for an identical verified pair set.
        cand = (
            _with_agreement(cand, sigs[0], sigs[-1], n_hashes)
            .filter(F.col("n_agree") / float(n_hashes) >= jaccard_threshold)
            .select("id_a", "id_b")
        )
    # Eager: the shingle-set builds and the final pair join read it concurrently.
    survivors = materialize(cand, eager=True)

    def hashed_sets(tokens: DataFrame, ids: DataFrame) -> DataFrame:
        # Hashed shingle sets (long compares, collision probability
        # ~2^-64) of the docs in ``ids`` only.
        return (
            tokens.join(ids.distinct(), F.col("id") == F.col("cid"), "left_semi")
            .groupBy("id")
            .agg(F.collect_set(F.xxhash64("g")).alias("sh"))
            .withColumn("n", F.size("sh"))
        )

    ids_a = survivors.select(F.col("id_a").alias("cid"))
    ids_b = survivors.select(F.col("id_b").alias("cid"))
    if right is None:
        # Eager: the a-side and b-side broadcast builds read it concurrently.
        sh_a = sh_b = materialize(hashed_sets(toks[0], ids_a.unionByName(ids_b)), eager=True)
    else:
        sh_a, sh_b = hashed_sets(toks[0], ids_a), hashed_sets(toks[1], ids_b)
    # Broadcast the per-doc set tables (survivor docs only, a few MB of
    # hashed-long arrays) so the pair join stays map-side; one
    # intersect per pair, union size derived from the set sizes.
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        survivors.join(
            F.broadcast(
                sh_a.select(
                    F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na")
                )
            ),
            "id_a",
        )
        .join(
            F.broadcast(
                sh_b.select(
                    F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb")
                )
            ),
            "id_b",
        )
        .withColumn("jaccard_sim", inter / (F.col("na") + F.col("nb") - inter))
        .filter(F.col("jaccard_sim") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard_sim")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 32,
    n_bands: int = 8,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """MinHash+LSH near-dup pairs within one corpus: (id_a, id_b,
    jaccard_sim) with id_a < id_b and exact shingle Jaccard >=
    threshold (computed on xxhash64'd shingles, collision probability
    ~2^-64).

    ``max_bucket_size`` skips band-buckets larger than the cap —
    buckets that big are boilerplate/template clusters whose O(n²)
    pair expansion dominates the join (a 334-member bucket alone is
    55k pairs); their true near-dups still have n_bands-1 other
    chances to collide in a small bucket. At 100 TB the cap is
    mandatory (it also bounds skew); AQE skew-join covers what remains
    here. ``portable=True`` uses the md5 family and ignores the cap,
    so the output is exactly the candidate pairs sharing >= 1 band
    bucket whose Jaccard passes the threshold."""
    return _minhash_cascade(
        df, None, text_col, id_col, n_hashes, n_bands, shingle_k,
        jaccard_threshold, max_bucket_size, portable,
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
    portable: bool = False,
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
    side only (the batch side is already bounded); ``portable`` as in
    ``minhash_lsh_pairs``."""
    pairs = _minhash_cascade(
        new_df, corpus_df, text_col, id_col, n_hashes, n_bands, shingle_k,
        jaccard_threshold, max_bucket_size, portable,
    )
    return pairs.select(
        F.col("id_a").alias("new_id"), F.col("id_b").alias("corpus_id"), "jaccard_sim"
    )


def simhash(c: Column, n_bits: int = 64) -> Column:
    """Charikar SimHash over word tokens, represented as an n_bits-char
    '0'/'1' string: per bit j, sign of Σ_tokens (bit_j(xxhash64(token))
    ? +1 : -1). The string form keeps everything inside built-in
    higher-order functions (bit shifts by a *column* amount don't
    exist as JVM expressions) and banding/hamming work on substrings."""
    toks = tk.shingle_words(c)
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


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """SimHash near-dup pairs (id_a, id_b, hamming) with hamming ≤
    max_hamming, candidates via 4-chunk banding (pigeonhole: ≤3
    differing bits leave ≥1 of 4 chunks identical).

    Signatures come from the bulk path: explode word tokens, hash each
    ONCE, then one signed-count aggregate per bit (map-side partial),
    MSB-first to match ``simhash``'s bin()-string convention. The
    expression form ``simhash`` re-evaluates the whole token-hash chain
    per bit (64× per row); this shape shuffles only (id, n_bits longs).
    xxhash64 gives 64 bits in 4×16-bit chunks; ``portable=True`` hashes
    with the 60-bit ``_portable_hash`` (seed 0), so 60 bits in 4×15-bit
    chunks — the pigeonhole guarantee is unchanged."""
    if max_hamming > 3:
        raise ValueError(
            "simhash_near_dup_pairs: 4-chunk banding only guarantees "
            f"candidates for hamming <= 3, got max_hamming={max_hamming} "
            "(pairs beyond 3 would be silently missed)"
        )
    n_bits = 60 if portable else 64
    chunk_len = n_bits // 4
    toks = _spread(df).select(
        F.col(id_col).alias("id"), F.explode(tk.shingle_words(F.col(text_col))).alias("t")
    )
    h = _portable_hash(F.col("t"), F.lit(0)) if portable else F.xxhash64("t")
    sums = toks.select("id", h.alias("h")).groupBy("id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), n_bits - 1 - j).bitwiseAND(F.lit(1)) == 1, 1
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
    banded = sums.select("id", sig.alias("sh")).select(
        "id",
        "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(3)),
                lambda i: F.struct(
                    i.cast("int").alias("chunk"),
                    F.col("sh").substr(i * chunk_len + 1, F.lit(chunk_len)).alias("bucket"),
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
