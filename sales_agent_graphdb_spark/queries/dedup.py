"""Deduplication suite over the documents table — exact, n-gram
Jaccard, MinHash+LSH, SimHash, embedding-cosine. The raw testdata has
no planted duplicates, so each query derives a corpus with
deterministic near/exact duplicates (suffix-perturbed copies at
doc_id+100000) and must find exactly those — making every check
non-vacuous. The perturbation is mirrored in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import md5_int, md5_int_sql
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.operators import ann, lsh, similarity as sim
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize

DUP_OFFSET = 100_000

# duplicated corpus: docs with doc_id < 40 get a copy whose text has a
# short suffix appended (near-dup), docs with doc_id in [40, 60) get an
# identical copy (exact dup).
_CORPUS_SQL = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {DUP_OFFSET} AS doc_id, text || ' extra trailing words' AS text
    FROM documents WHERE doc_id < 40
    UNION ALL
    SELECT doc_id + {DUP_OFFSET} AS doc_id, text
    FROM documents WHERE doc_id >= 40 AND doc_id < 60
"""


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = catalog.load_table(spark, sf_dir, "documents").select("doc_id", "text")
    near = (
        d.filter(F.col("doc_id") < 40)
        .select(
            (F.col("doc_id") + DUP_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra trailing words")).alias("text"),
        )
    )
    exact = d.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 60)).select(
        (F.col("doc_id") + DUP_OFFSET).alias("doc_id"), "text"
    )
    return d.unionByName(near).unionByName(exact)


@register(
    "dedup_exact_hash",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL})
    SELECT {tk.content_fp_sql()} AS content_hash,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM corpus
    GROUP BY content_hash
    HAVING COUNT(*) > 1
    ORDER BY keep_doc_id
    """,
)
def dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on normalized content, keep min id
    (the scale-out form of the reference's seen-set at
    db_service.py:379-387). One shuffle on a 32-char key."""
    corpus = dup_corpus(spark, sf_dir)
    return (
        corpus.groupBy(tk.content_fp(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
        .orderBy("keep_doc_id")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(length({tk.shingle_norm_sql()}) - 4, 1)),
               p -> substr({tk.shingle_norm_sql()}, p, 5))) AS grams
      FROM corpus WHERE doc_id < 40 OR doc_id >= {DUP_OFFSET})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard_sim
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: exact all-pairs on a bounded subset
    (the verification kernel that LSH feeds candidates to at scale).
    5-char shingles (MMDS-style k: big enough that unrelated docs
    rarely share a shingle), threshold 0.5."""
    corpus = dup_corpus(spark, sf_dir).filter(
        (F.col("doc_id") < 40) | (F.col("doc_id") >= DUP_OFFSET)
    )
    sh = corpus.select(
        F.col("doc_id"), lsh.char_shingles(F.col("text"), 5).alias("grams")
    )
    a, b = sh.alias("a"), sh.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        lsh.jaccard(F.col("a.grams"), F.col("b.grams")).alias("jaccard_sim"),
    )
    return pairs.filter(F.col("jaccard_sim") >= 0.5).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Planted-pair VERDICT scaffolding (VERDICT r05 #1). The xxhash64-based
# perf paths produce engine-specific candidate sets, so their raw pair
# lists can never hash-match a DuckDB oracle. Instead each perf query
# emits the DETERMINISTIC planted ground truth — the 60 (d, d+OFFSET)
# pairs the corpus derivation plants — plus verdict booleans computed
# IN-PLAN from the perf path's actual output (the agg_approx_distinct
# bounds-verdict pattern). The oracle predicts the planted rows and
# all-TRUE verdicts; a broken cascade (bad signatures, broken band
# join, broken verify) flips a boolean and hash-mismatches. Thresholds
# sit far below measured behavior (banding misses ~1/60 planted pairs;
# fixed hashes on fixed read-only testdata make the miss set
# deterministic per dataset): minhash family ≥ 54/60, simhash near
# ≥ 12/40; exact-duplicate detection is REQUIRED complete (identical
# text → identical signature → guaranteed band collision).
# ---------------------------------------------------------------------------

_N_PLANTED = 60          # doc_id 0..59 each get a +DUP_OFFSET copy
_N_EXACT = 20            # doc_id 40..59 copies are byte-identical
_MINHASH_RECALL_FLOOR = 54   # measured: 59/60 found at sf0.001 and sf0.01
_SIMHASH_NEAR_FLOOR = 12     # measured: 19/40 (sf0.001), 21/40 (sf0.01)


def _planted(spark: SparkSession, sf_dir: str, a: str = "id_a", b: str = "id_b"):
    """The deterministic planted-duplicate pair frame: (d, d+OFFSET)
    for doc_id < 60, flagged exact for d >= 40."""
    d = catalog.load_table(spark, sf_dir, "documents").select("doc_id")
    return d.filter(F.col("doc_id") < _N_PLANTED).select(
        F.col("doc_id").alias(a),
        (F.col("doc_id") + DUP_OFFSET).alias(b),
        (F.col("doc_id") >= 40).alias("is_exact"),
    )


def _planted_verdict_oracle(a: str = "id_a", b: str = "id_b", *verdicts: str) -> str:
    cols = ",\n           ".join(f"TRUE AS {v}" for v in verdicts)
    return f"""
    SELECT doc_id AS {a}, doc_id + {DUP_OFFSET} AS {b},
           doc_id >= 40 AS is_exact,
           {cols}
    FROM documents WHERE doc_id < {_N_PLANTED} ORDER BY {a}
    """


def minhash_lsh_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw verified near-dup pair frame (id_a, id_b, jaccard_sim)
    the perf verdict queries and tests both consume."""
    corpus = dup_corpus(spark, sf_dir)
    return lsh.minhash_lsh_pairs(
        corpus,
        n_hashes=32,
        n_bands=8,
        shingle_k=5,
        jaccard_threshold=0.5,
        max_bucket_size=128,
    )


def _minhash_verdict(
    spark: SparkSession, sf_dir: str, pairs: DataFrame, a: str, b: str
) -> DataFrame:
    """Shared verdict tail for the two minhash perf paths: planted rows
    + (exact_all_found, planted_recall_ok, fp_verified) booleans."""
    planted = _planted(spark, sf_dir, a, b)
    hits = planted.join(
        pairs.select(a, b).withColumn("hit", F.lit(1)), [a, b], "left"
    )
    stats = hits.agg(
        (F.coalesce(F.sum(F.when(F.col("is_exact"), F.col("hit"))), F.lit(0))
         == _N_EXACT).alias("exact_all_found"),
        (F.coalesce(F.sum("hit"), F.lit(0)) >= _MINHASH_RECALL_FLOOR).alias(
            "planted_recall_ok"
        ),
    )
    # verify-on-candidates guarantee, re-asserted from the data: every
    # emitted pair carries a true Jaccard >= threshold (empty output =
    # broken cascade = FALSE, not null).
    fp = pairs.agg(
        F.coalesce(F.min("jaccard_sim") >= 0.5, F.lit(False)).alias("fp_verified")
    )
    verdict = F.broadcast(stats.crossJoin(fp))
    return (
        planted.crossJoin(verdict)
        .select(a, b, "is_exact", "exact_all_found", "planted_recall_ok", "fp_verified")
        .orderBy(a)
    )


@register(
    "dedup_minhash_lsh",
    oracle=_planted_verdict_oracle(
        "id_a", "id_b", "exact_all_found", "planted_recall_ok", "fp_verified"
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join→
    exact-Jaccard verify). The cascade is the production xxhash64 path
    (engine-specific signatures), so since r06 the driver row is a
    PLANTED-PAIR VERDICT: the 60 deterministic planted pairs plus
    in-plan booleans — all 20 exact copies found (guaranteed complete
    for a correct impl: identical text → identical minhash vector →
    every band collides), ≥ 54/60 planted pairs found overall
    (measured 59/60; misses are deterministic banding behavior on
    fixed data), and min emitted Jaccard ≥ 0.5 (the
    verify-on-candidates guarantee re-asserted from the output).
    pytest still pins recall ≥ 0.95 vs the exact-Jaccard pairs and
    zero post-verification false positives on the raw pair frame
    (minhash_lsh_pairs_frame)."""
    pairs = minhash_lsh_pairs_frame(spark, sf_dir)
    return _minhash_verdict(spark, sf_dir, pairs, "id_a", "id_b")


@register(
    "dedup_simhash",
    oracle=_planted_verdict_oracle(
        "id_a", "id_b", "exact_all_hamming0", "near_recall_ok"
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (64-bit Charikar signature, 4×16-bit
    chunk banding, hamming ≤ 3). Since r06 a PLANTED-PAIR VERDICT row
    (xxhash64 term hashes are engine-specific): all 20 planted exact
    copies must collide at hamming EXACTLY 0 (identical text →
    identical signature — deterministic for any correct impl), and
    ≥ 12/40 planted near-dups must surface at hamming ≤ 3 (measured
    19–21/40: suffix-perturbed docs are genuinely hard for 64-bit
    simhash, which is why minhash is the primary text path; a broken
    engine scores ~0 since random 64-bit signatures never land within
    hamming 3)."""
    corpus = dup_corpus(spark, sf_dir)
    pairs = lsh.simhash_near_dup_pairs(corpus, max_hamming=3)
    planted = _planted(spark, sf_dir)
    hits = planted.join(pairs, ["id_a", "id_b"], "left")
    stats = hits.agg(
        (F.coalesce(
            F.sum(F.when(F.col("is_exact") & (F.col("hamming") == 0), 1)), F.lit(0)
        ) == _N_EXACT).alias("exact_all_hamming0"),
        (F.coalesce(
            F.sum(F.when(~F.col("is_exact") & F.col("hamming").isNotNull(), 1)),
            F.lit(0),
        ) >= _SIMHASH_NEAR_FLOOR).alias("near_recall_ok"),
    )
    return (
        planted.crossJoin(F.broadcast(stats))
        .select("id_a", "id_b", "is_exact", "exact_all_hamming0", "near_recall_ok")
        .orderBy("id_a")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sim.duckdb_cosine_sql("a.embedding", "b.embedding")} AS cos_sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND {sim.duckdb_cosine_sql("a.embedding", "b.embedding")} >= 0.3
    ORDER BY id_a, id_b
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: all-pairs ≥ threshold. EXACT KERNEL
    ONLY — the registered scale path is dedup_embedding_lsh below
    (hyperplane buckets → cosine verify on candidates); this all-pairs
    cartesian exists as its verification oracle and must never be the
    plan at 100 TB."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b", sim.cosine(F.col("ea"), F.col("eb")).alias("cos_sim")
    )
    return pairs.filter(F.col("cos_sim") >= 0.3).orderBy("id_a", "id_b")


@register(
    "dedup_embedding_lsh",
    oracle=ann.duckdb_hyperplane_dedup_sql(threshold=0.3, dim=64),
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane LSH — the registered SCALE path
    (VERDICT r01 #3): skinny (id, table, bucket) signature rows, band
    self-join for candidates, exact-cosine verify on candidates only.
    dedup_embedding_cosine above is hereafter the exact kernel/oracle
    only — its all-pairs cartesian is what this query avoids at 100 TB.
    HASH-CHECKED DIRECTLY (r03, no twin needed): the hyperplanes are
    seeded literals and every dot is a fold-order aggregate, so bucket
    sign bits — and hence the candidate set and the cosine verify — are
    engine-portable arithmetic DuckDB reproduces bit-for-bit. pytest
    additionally pins recall vs the exact kernel and asserts zero false
    positives (verify guarantees the subset property)."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").head()[0])
    # The oracle above inlines 64-dim plane literals at registration; a
    # silently different runtime dim would use a DIFFERENT hyperplane
    # set and read as an engine bug. Fail loudly instead.
    if dim != 64:
        raise ValueError(
            f"dedup_embedding_lsh: oracle is pinned to dim=64, data has dim={dim}"
        )
    return ann.hyperplane_dedup_pairs(emb, dim=dim, threshold=0.3).orderBy(
        "id_a", "id_b"
    )


@register(
    "dedup_semantic_cell",
    oracle=ann.duckdb_semantic_cell_dedup_sql(n_cells=16, threshold=0.3),
)
def dedup_semantic_cell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): k-cell
    clustering of the embedding space, within-cell cosine, drop every
    vector with an above-threshold smaller-id cell-mate (keep = the
    smallest). The clustering-based third member of the embedding-dedup
    family next to the exact kernel (dedup_embedding_cosine) and the
    hashing-based scale path (dedup_embedding_lsh); its pairwise join
    is keyed ON THE CELL, so cost is O(Σ_cell |cell|²) and the cell is
    the natural storage partition at 100 TB (shared with the IVF
    index). HASH-CHECKED DIRECTLY: deterministic first-16 centroids +
    fold-order dots make assignment, candidate set, and similarities
    engine-portable arithmetic (operators/ann.py:semantic_cell_dedup).
    """
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return ann.semantic_cell_dedup(emb, n_cells=16, threshold=0.3)


def incremental_minhash_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw batch-vs-corpus match frame (new_id, corpus_id, jaccard_sim)
    consumed by the verdict query and by tests."""
    full = dup_corpus(spark, sf_dir)
    batch = full.filter(F.col("doc_id") >= DUP_OFFSET)
    corpus = full.filter(F.col("doc_id") < DUP_OFFSET)
    return lsh.minhash_lsh_join(
        batch, corpus, jaccard_threshold=0.5, max_bucket_size=128
    )


@register(
    "dedup_incremental_minhash",
    oracle=f"""
    SELECT doc_id + {DUP_OFFSET} AS new_id, doc_id AS corpus_id,
           doc_id >= 40 AS is_exact,
           TRUE AS exact_all_found,
           TRUE AS planted_recall_ok,
           TRUE AS fp_verified
    FROM documents WHERE doc_id < {_N_PLANTED} ORDER BY new_id
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: the planted-duplicate batch (doc_id >=
    DUP_OFFSET) matched against the original corpus with
    minhash_lsh_join — the nightly-batch-vs-existing-corpus shape a
    100 TB pipeline actually runs (cost |batch|·collisions, never
    |corpus|²; corpus signatures are the ingest-time index at scale).
    Since r06 a PLANTED-PAIR VERDICT row (same rationale as
    dedup_minhash_lsh: xxhash64 signatures are engine-specific): every
    planted batch doc must find its source — all 20 exact copies
    (guaranteed), ≥ 54/60 overall (measured 59/60), min emitted
    Jaccard ≥ 0.5. pytest pins recall on the raw match frame
    (incremental_minhash_pairs_frame)."""
    pairs = incremental_minhash_pairs_frame(spark, sf_dir)
    # The planted source doc is the corpus side: (corpus_id, new_id) =
    # (d, d + DUP_OFFSET).
    return _minhash_verdict(spark, sf_dir, pairs, "corpus_id", "new_id").select(
        "new_id", "corpus_id", "is_exact",
        "exact_all_found", "planted_recall_ok", "fp_verified",
    )


def _components(pairs: DataFrame) -> DataFrame:
    """(id, component): verified near-dup pairs → edges →
    graph.connected_components; shared by every cluster-canonical
    query."""
    from sales_agent_graphdb_spark.operators.graph import connected_components

    return connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )


def _cluster_canonical(pairs: DataFrame) -> DataFrame:
    """Shared clustering tail of both cluster-canonical frames:
    ``_components`` → per-cluster canonical (min doc_id) + size +
    sorted member-id JSON, clusters of >= 2. ONE definition so the
    portable query certifies exactly the pipeline the perf path
    runs."""
    clusters = _components(pairs).groupBy("component").agg(
        F.min("id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("cluster_size"),
        F.to_json(F.sort_array(F.collect_list("id"))).alias("member_ids"),
    )
    return (
        clusters.filter(F.col("cluster_size") >= 2)
        .select("canonical_doc_id", "cluster_size", "member_ids")
        .orderBy("canonical_doc_id")
    )


def cluster_canonical_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw cluster frame (canonical_doc_id, cluster_size, member_ids)
    from the xxhash64 perf cascade — consumed by the verdict query's
    sibling tests (tests/test_dedup_properties.py pins subset-of-exact
    -components + canonical/min invariants on it)."""
    return _cluster_canonical(minhash_lsh_pairs_frame(spark, sf_dir))


@register(
    "dedup_cluster_canonical",
    oracle=_planted_verdict_oracle(
        "id_a", "id_b", "exact_all_coclustered", "planted_coclustered_ok"
    ),
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER canonicalization — the final step of a corpus
    dedup pipeline, composed from two existing operators: MinHash-LSH
    verified pairs (the similarity graph's edges) → connected
    components (transitive closure, graph.connected_components) →
    per-cluster canonical = min doc_id, with cluster size. This is
    what actually gets APPLIED to a 100 TB corpus: keep the canonical,
    drop the rest — pairwise output alone can't express transitive
    duplicate chains (A~B, B~C, A!~C must still collapse to one
    cluster). Since r06 a PLANTED-PAIR VERDICT row (xxhash64 seeds):
    each planted (d, d+OFFSET) pair must land in the SAME connected
    component — all 20 exact copies (guaranteed: exact dups always
    band-collide), ≥ 54/60 overall (measured 59/60). The full cluster
    pipeline (pairs → connected components) executes to produce
    the verdict; pytest checks the raw cluster frame
    (cluster_canonical_frame) against exact-Jaccard components."""
    comp = _components(minhash_lsh_pairs_frame(spark, sf_dir))
    planted = _planted(spark, sf_dir)
    ca = comp.select(F.col("id").alias("id_a"), F.col("component").alias("comp_a"))
    cb = comp.select(F.col("id").alias("id_b"), F.col("component").alias("comp_b"))
    j = planted.join(ca, "id_a", "left").join(cb, "id_b", "left")
    same = F.col("comp_a").isNotNull() & (F.col("comp_a") == F.col("comp_b"))
    stats = j.agg(
        (F.coalesce(F.sum(F.when(F.col("is_exact") & same, 1)), F.lit(0))
         == _N_EXACT).alias("exact_all_coclustered"),
        (F.coalesce(F.sum(F.when(same, 1)), F.lit(0))
         >= _MINHASH_RECALL_FLOOR).alias("planted_coclustered_ok"),
    )
    return (
        planted.crossJoin(F.broadcast(stats))
        .select(
            "id_a", "id_b", "is_exact",
            "exact_all_coclustered", "planted_coclustered_ok",
        )
        .orderBy("id_a")
    )


# Shared CTE chain for the md5-portable minhash family (16 hashes, 4
# bands, 5-char shingles) over the planted-duplicate corpus — the text
# mirror of lsh.shingle_tokens + the md5 signatures and bands
# (portable=True), shared by all three portable minhash queries
# (pairs / incremental / cluster-canonical).
_PORTABLE_MINHASH_CTES = f"""
    corpus AS ({_CORPUS_SQL}),
    norm AS (
      SELECT doc_id AS id, {tk.shingle_norm_sql()} AS t
      FROM corpus),
    toks AS (
      SELECT DISTINCT id, substr(t, u.p, 5) AS g
      FROM norm, unnest(generate_series(1, greatest(length(t) - 4, 1))) AS u(p)),
    seeds AS (SELECT unnest(generate_series(0, 15)) AS seed),
    minh AS (
      SELECT id, seed,
             MIN({md5_int_sql("g || '#' || seed")}) AS mh
      FROM toks CROSS JOIN seeds GROUP BY id, seed),
    banded AS (
      SELECT id, seed // 4 AS band,
             md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY seed)) AS bucket
      FROM minh GROUP BY id, seed // 4),
    sizes AS (SELECT id, COUNT(*) AS n FROM toks GROUP BY id)
"""


@register(
    "dedup_minhash_lsh_portable",
    oracle=f"""
    WITH {_PORTABLE_MINHASH_CTES},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ninter
      FROM cand c
      JOIN toks ta ON ta.id = c.id_a
      JOIN toks tb ON tb.id = c.id_b AND tb.g = ta.g
      GROUP BY c.id_a, c.id_b)
    SELECT i.id_a, i.id_b,
           CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard_sim
    FROM inter i
    JOIN sizes sa ON sa.id = i.id_a
    JOIN sizes sb ON sb.id = i.id_b
    WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.5
    ORDER BY id_a, id_b
    """,
)
def dedup_minhash_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, HASH-CHECKED END-TO-END: the
    oracle-checkable twin of dedup_minhash_lsh. The same
    lsh.minhash_lsh_pairs cascade with portable=True: the hash family
    is md5-derived (portable to DuckDB bit-for-bit) and the cost-only
    pruning stages are off, so the driver verifies the ENTIRE
    pipeline — shingling, 16-seed minhash signatures, 4-band
    bucketing, candidate join, exact Jaccard verify — against a full
    SQL mirror, not just row counts. The xxhash64 family stays the
    performance path. 16 hashes / 4 bands keeps the banding curve
    near the 32/8 perf config (r = 4 rows per band in both)."""
    corpus = dup_corpus(spark, sf_dir)
    return lsh.minhash_lsh_pairs(
        corpus, n_hashes=16, n_bands=4, shingle_k=5, jaccard_threshold=0.5,
        portable=True,
    ).orderBy("id_a", "id_b")


@register(
    "dedup_simhash_portable",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (
      SELECT doc_id AS id, u.t
      FROM corpus, unnest({tk.shingle_words_sql()}) AS u(t)),
    hashed AS (
      SELECT id, {md5_int_sql("t || '#' || 0")} AS h
      FROM toks),
    bits AS (
      SELECT id, g.j,
             SUM(CASE WHEN (h >> (59 - g.j)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, unnest(generate_series(0, 59)) AS g(j)
      GROUP BY id, g.j),
    sigs AS (
      SELECT id, string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS sh
      FROM bits GROUP BY id),
    banded AS (
      SELECT id, sh, c.i AS chunk, substr(sh, c.i * 15 + 1, 15) AS bucket
      FROM sigs, unnest(generate_series(0, 3)) AS c(i)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, a.sh AS sh_a, b.id AS id_b, b.sh AS sh_b
      FROM banded a JOIN banded b
        ON a.chunk = b.chunk AND a.bucket = b.bucket AND a.id < b.id)
    SELECT id_a, id_b,
           CAST(len(list_filter(generate_series(1, 60),
                p -> substr(sh_a, p, 1) <> substr(sh_b, p, 1))) AS INT) AS hamming
    FROM cand
    WHERE len(list_filter(generate_series(1, 60),
          p -> substr(sh_a, p, 1) <> substr(sh_b, p, 1))) <= 3
    ORDER BY id_a, id_b
    """,
)
def dedup_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, HASH-CHECKED END-TO-END: the
    oracle-checkable twin of dedup_simhash (the same
    lsh.simhash_near_dup_pairs with portable=True: md5-portable 60-bit
    token hashes). The driver verifies the whole pipeline — token
    hashing, signed bit votes, 60-char signature, 4×15-bit banding,
    hamming verify — against a full SQL mirror. The xxhash64 family
    stays the performance path."""
    corpus = dup_corpus(spark, sf_dir)
    return lsh.simhash_near_dup_pairs(corpus, max_hamming=3, portable=True).orderBy(
        "id_a", "id_b"
    )




@register(
    "dedup_incremental_minhash_portable",
    oracle=f"""
    WITH {_PORTABLE_MINHASH_CTES},
    cand AS (
      SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
      FROM banded n JOIN banded c
        ON n.band = c.band AND n.bucket = c.bucket
      WHERE n.id >= {DUP_OFFSET} AND c.id < {DUP_OFFSET}),
    inter AS (
      SELECT c.new_id, c.corpus_id, COUNT(*) AS ninter
      FROM cand c
      JOIN toks ta ON ta.id = c.new_id
      JOIN toks tb ON tb.id = c.corpus_id AND tb.g = ta.g
      GROUP BY c.new_id, c.corpus_id)
    SELECT i.new_id, i.corpus_id,
           CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) AS jaccard_sim
    FROM inter i
    JOIN sizes sa ON sa.id = i.new_id
    JOIN sizes sb ON sb.id = i.corpus_id
    WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.5
    ORDER BY new_id, corpus_id
    """,
)
def dedup_incremental_minhash_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental (batch-vs-corpus) dedup, HASH-CHECKED END-TO-END:
    the oracle-checkable twin of dedup_incremental_minhash (VERDICT r02
    #2). Same nightly shape — batch bands ⋈ corpus bands, never
    corpus² — but the hash family is md5-derived, so the driver
    verifies the whole incremental cascade (per-side shingling, 16-seed
    signatures, 4-band bucketing, cross-side candidate join, exact
    Jaccard verify) against a full SQL mirror: lsh.minhash_lsh_join
    with portable=True. The xxhash64 family stays the performance
    path."""
    full = dup_corpus(spark, sf_dir)
    batch = full.filter(F.col("doc_id") >= DUP_OFFSET)
    corpus = full.filter(F.col("doc_id") < DUP_OFFSET)
    return lsh.minhash_lsh_join(
        batch, corpus, n_hashes=16, n_bands=4, shingle_k=5,
        jaccard_threshold=0.5, portable=True,
    ).orderBy("new_id", "corpus_id")


@register(
    "dedup_cluster_canonical_portable",
    oracle=f"""
    WITH RECURSIVE {_PORTABLE_MINHASH_CTES},
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS ninter
      FROM cand c
      JOIN toks ta ON ta.id = c.id_a
      JOIN toks tb ON tb.id = c.id_b AND tb.g = ta.g
      GROUP BY c.id_a, c.id_b),
    pairs AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.id = i.id_a
      JOIN sizes sb ON sb.id = i.id_b
      WHERE CAST(i.ninter AS DOUBLE) / (sa.n + sb.n - i.ninter) >= 0.5),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(a, b) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b),
    comp AS (SELECT a AS id, MIN(b) AS component FROM reach GROUP BY a)
    SELECT MIN(id) AS canonical_doc_id,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           CAST(to_json(list_sort(list(id))) AS VARCHAR) AS member_ids
    FROM comp
    GROUP BY component
    HAVING COUNT(*) >= 2
    ORDER BY canonical_doc_id
    """,
)
def dedup_cluster_canonical_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup cluster canonicalization, HASH-CHECKED END-TO-END: the
    oracle-checkable twin of dedup_cluster_canonical (VERDICT r02 #2).
    md5-portable MinHash-LSH pairs feed the same connected
    components; the DuckDB mirror closes the identical edge
    set with a recursive-CTE transitive closure (the technique proven
    by graph_pagerank's oracle) and groups members per component — so
    the driver hash-checks edge discovery AND the transitive clustering
    AND the canonical/member aggregation, bit-for-bit including the
    sorted member-id JSON."""
    corpus = dup_corpus(spark, sf_dir)
    pairs = lsh.minhash_lsh_pairs(
        corpus, n_hashes=16, n_bands=4, shingle_k=5, jaccard_threshold=0.5,
        portable=True,
    )
    return _cluster_canonical(pairs)


# ---------------------------------------------------------------------------
# Directional containment — "is doc A mostly contained in doc B?": the
# quote/subset detector that symmetric Jaccard misses (a short doc fully
# quoted inside a long one has high containment but low Jaccard). The
# planted near-dups make this non-vacuous: the suffix-perturbed copy
# CONTAINS the original (containment 1.0 one way, < 1 the other).
# ---------------------------------------------------------------------------

_CONTAIN_MAX_DF = 50  # stop-shingle cap: shingles in more docs than
# this are boilerplate; dropping them bounds the inverted-index join
# fan-out (the same role as minhash_lsh_pairs' max_bucket_size).
_CONTAIN_THRESHOLD = 0.9


@register(
    "dedup_containment",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    toks AS (SELECT doc_id, {tk.alnum_tokens_sql()} AS t FROM corpus),
    sh AS (SELECT DISTINCT doc_id, unnest({tk.word_ngrams_sql("t", 5)}) AS g FROM toks),
    big AS (SELECT g FROM sh GROUP BY g HAVING COUNT(*) > {_CONTAIN_MAX_DF}),
    shf AS (SELECT sh.doc_id, sh.g FROM sh ANTI JOIN big USING (g)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM shf a JOIN shf b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
             CAST(n_shared AS DOUBLE) / sa.n AS containment_a_in_b,
             CAST(n_shared AS DOUBLE) / sb.n AS containment_b_in_a
      FROM pairs JOIN sz sa ON sa.doc_id = pairs.id_a
                 JOIN sz sb ON sb.doc_id = pairs.id_b)
    SELECT * FROM scored
    WHERE greatest(containment_a_in_b, containment_b_in_a) >= {_CONTAIN_THRESHOLD}
    ORDER BY id_a, id_b
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram containment pairs: |shingles(A) ∩ shingles(B)|
    over each side's own shingle count, flagged when either direction
    ≥ 0.9. Word-5-gram shingles, distinct per doc; every fraction is a
    single int/int division (bit-exact vs the oracle).

    Scale shape: inverted-index self-join on the shingle — skinny
    (doc_id, gram) rows, no text payload — with a broadcast anti-join
    stop-shingle cap (df > {_CONTAIN_MAX_DF}) bounding the per-gram
    fan-out exactly like minhash_lsh_pairs' hot-bucket cap; shared
    counts come from a map-side-combinable groupBy on the pair key.
    Cost is O(Σ_gram df²) with df capped, never O(n²) over docs."""
    corpus = dup_corpus(spark, sf_dir)
    toks = corpus.select("doc_id", tk.alnum_tokens(F.col("text")).alias("t"))
    # Eager: the `big` broadcast build and the main stages read it concurrently.
    sh = materialize(
        toks.select("doc_id", F.explode(tk.word_ngrams(F.col("t"), 5)).alias("g"))
        .distinct(),
        eager=True,
    )
    big = (
        sh.groupBy("g")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") > _CONTAIN_MAX_DF)
        .select("g")
    )
    # Eager: sz and both self-join sides read it concurrently.
    shf = materialize(sh.join(F.broadcast(big), "g", "left_anti"), eager=True)
    sz = shf.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shf.alias("a"), shf.alias("b")
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("na")).alias(
                "containment_a_in_b"
            ),
            (F.col("n_shared").cast("double") / F.col("nb")).alias(
                "containment_b_in_a"
            ),
        )
    )
    return (
        scored.filter(
            F.greatest(
                F.col("containment_a_in_b"), F.col("containment_b_in_a")
            )
            >= _CONTAIN_THRESHOLD
        )
        .orderBy("id_a", "id_b")
    )


@register(
    "split_leakage_safe",
    oracle=f"""
    WITH corpus AS ({_CORPUS_SQL}),
    keyed AS (
      SELECT doc_id,
             {tk.content_fp_sql()} AS cluster_key,
             CASE WHEN {md5_int_sql("doc_id")} % 10 < 2
                  THEN 'val' ELSE 'train' END AS naive_split
      FROM corpus),
    clusters AS (
      SELECT cluster_key,
             CASE WHEN {md5_int_sql("cluster_key")} % 10 < 2
                  THEN 'val' ELSE 'train' END AS split,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT naive_split) AS BIGINT) AS n_naive_splits
      FROM keyed GROUP BY cluster_key)
    SELECT split,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN n_naive_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clusters_naive_would_leak
    FROM clusters GROUP BY split ORDER BY split
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val split — split assignment hashed on the
    CANONICAL CONTENT KEY (md5 of normalized text, the
    dedup_exact_hash cluster key), never on doc_id: exact duplicates
    land in the same split by construction, so eval rows can never be
    training-set copies. The per-split report also counts, per split,
    how many of its clusters a NAIVE doc_id-hash split would have
    straddled across train and val — the measured leak the
    content-keyed split closes (non-zero here because the planted
    duplicate corpus shares content across different doc_ids).

    Scale: one shuffle on the 32-char cluster key (the dedup_exact_hash
    shuffle), then a 2-row reduce; split membership is a pure hash
    function, reproducible across runs, engines, and partitionings.
    The same keying generalizes to near-dup clusters by substituting
    dedup_cluster_canonical's component id for the md5 key."""
    corpus = dup_corpus(spark, sf_dir)
    keyed = corpus.select(
        "doc_id",
        tk.content_fp(F.col("text")).alias("cluster_key"),
        F.when(md5_int("doc_id") % 10 < 2, "val")
        .otherwise("train")
        .alias("naive_split"),
    )
    clusters = keyed.groupBy("cluster_key").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("naive_split").alias("n_naive_splits"),
    ).select(
        F.when(md5_int("cluster_key") % 10 < 2, "val")
        .otherwise("train")
        .alias("split"),
        "n_docs",
        "n_naive_splits",
    )
    return (
        clusters.groupBy("split")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum((F.col("n_naive_splits") > 1).cast("long")).alias(
                "n_clusters_naive_would_leak"
            ),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# Passage-level (line-level) cross-document dedup — the RefinedWeb /
# Falcon "line dedup" pass re-expressed for unstructured text: split
# each document into consecutive fixed-width token segments, find
# segments that recur across distinct documents, and report how much of
# each document is boilerplate. The reference has no passage-level
# pass at all (its dedup surface is whole-record: db_service.py keyed
# upserts); this is the sub-document granularity a pretraining corpus
# needs (headers, footers, navigation chrome repeat across pages while
# the page bodies differ).
# ---------------------------------------------------------------------------

_PASSAGE_W = 8  # tokens per segment; testdata docs hold 30-80 tokens
_PASSAGE_MIN_DOCS = 2  # recurs in >= 2 distinct docs => boilerplate


@register(
    "dedup_repeated_passages",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {tk.alnum_tokens_sql()} AS w FROM documents),
    segs AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, (i-1)*{_PASSAGE_W}+1, i*{_PASSAGE_W}), ' ')) AS seg_hash
      FROM toks, unnest(generate_series(1, CAST(len(w) // {_PASSAGE_W} AS BIGINT))) AS t(i)),
    counts AS (
      SELECT seg_hash, COUNT(DISTINCT doc_id) AS n_docs
      FROM segs GROUP BY seg_hash),
    flagged AS (
      SELECT s.doc_id, (c.n_docs >= {_PASSAGE_MIN_DOCS}) AS is_boiler
      FROM segs s JOIN counts c USING (seg_hash))
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pct_boiler
    FROM flagged GROUP BY doc_id ORDER BY doc_id
    """,
)
def dedup_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage detection (RefinedWeb-style line
    dedup for unstructured text): non-overlapping 8-token segments,
    md5-keyed; a segment present in >= 2 distinct documents is
    boilerplate; per-document output is (total segments, boilerplate
    segments, boilerplate fraction).

    Spark-first shape: ONE tokenize pass; segments shuffle by their
    md5 hash (16-byte key, never the raw passage string — at 100 TB
    the hash is what keeps the exchange narrow); the per-segment
    document count is a map-side-combinable groupBy; the flag joins
    back on the same hash so AQE reuses the exchange. The only float
    is one final division of two exact counts — bit-identical across
    engines. The doc x doc comparison never happens: cost is
    O(total segments), not O(docs^2)."""
    d = catalog.load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tk.alnum_tokens(F.col("text")).alias("w"))
    w = F.col("w")
    seg_exprs = F.when(
        F.size(w) >= _PASSAGE_W,
        F.transform(
            F.sequence(F.lit(1), F.floor(F.size(w) / _PASSAGE_W).cast("int")),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(w, (i - 1) * _PASSAGE_W + 1, _PASSAGE_W))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # Read by the count agg and the join-back.
    segs = materialize(
        toks.select("doc_id", F.explode(seg_exprs).alias("seg_hash")),
        eager=False,
    )
    counts = segs.groupBy("seg_hash").agg(F.countDistinct("doc_id").alias("n_docs"))
    flagged = segs.join(counts, "seg_hash").select(
        "doc_id", (F.col("n_docs") >= _PASSAGE_MIN_DOCS).alias("is_boiler")
    )
    boiler_n = F.sum(F.col("is_boiler").cast("long"))
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            boiler_n.alias("n_boiler"),
            (boiler_n.cast("double") / F.count(F.lit(1))).alias("pct_boiler"),
        )
        .orderBy("doc_id")
    )


_MH_EST_BOUND = 0.2  # measured planted-pair max |est−J|: 0.12/0.11/0.09


@register(
    "dedup_minhash_estimate_accuracy",
    oracle=f"""
    WITH {_PORTABLE_MINHASH_CTES},
    minw AS (
      SELECT id,
             {", ".join(f"MIN(CASE WHEN seed = {s} THEN mh END) AS mh{s}"
                        for s in range(16))}
      FROM minh GROUP BY id),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id),
    agree AS (
      SELECT c.id_a, c.id_b,
             ({" + ".join(f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END"
                          for s in range(16))}) AS n_agree
      FROM cand c
      JOIN minw a ON a.id = c.id_a
      JOIN minw b ON b.id = c.id_b),
    sel AS (
      SELECT id_a, id_b,
             id_b = id_a + {DUP_OFFSET} AS is_planted,
             {md5_int_sql("id_a || '_' || id_b")} % 8 = 0 AS in_sample
      FROM cand),
    verify AS (
      SELECT id_a, id_b, is_planted, in_sample FROM sel
      WHERE is_planted OR in_sample),
    inter AS (
      SELECT v.id_a, v.id_b, COUNT(*) AS ninter
      FROM verify v
      JOIN toks ta ON ta.id = v.id_a
      JOIN toks tb ON tb.id = v.id_b AND tb.g = ta.g
      GROUP BY v.id_a, v.id_b),
    j AS (
      SELECT v.id_a, v.id_b, v.is_planted, v.in_sample,
             a.n_agree / 16.0 AS est,
             CAST(COALESCE(i.ninter, 0) AS DOUBLE)
               / (sa.n + sb.n - COALESCE(i.ninter, 0)) AS jac
      FROM verify v
      JOIN agree a ON a.id_a = v.id_a AND a.id_b = v.id_b
      LEFT JOIN inter i ON i.id_a = v.id_a AND i.id_b = v.id_b
      JOIN sizes sa ON sa.id = v.id_a
      JOIN sizes sb ON sb.id = v.id_b)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
           CAST(SUM(CASE WHEN is_planted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_planted,
           CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           ROUND(MAX(CASE WHEN is_planted
                          THEN ABS(est - jac) END), 6) AS planted_max_err,
           ROUND(CAST(SUM(CASE WHEN in_sample
                          THEN CAST(ROUND(est - jac, 9) AS DECIMAL(20,9))
                          ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN in_sample THEN 1 ELSE 0 END), 6)
             AS candidate_bias,
           MAX(CASE WHEN is_planted
                    THEN ABS(est - jac) END) <= {_MH_EST_BOUND}
             AS estimator_ok
    FROM j
    """,
)
def dedup_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINHASH ESTIMATOR CALIBRATION — certifies the sketch's
    STATISTICS, not just its candidate set: for every LSH candidate
    pair, the signature-agreement estimate (n_agree/16 — the unbiased
    MinHash estimator of Jaccard) is compared against the reference
    shingle Jaccard computed on xxhash64'd shingle sets (collision
    probability ~2⁻⁶⁴ — the established minhash_lsh verify convention,
    "exact" up to that hash collision), and two numbers summarize the
    estimator:
    (1) planted_max_err — the worst |est − J| over the planted
    near/exact-dup pairs (measured ≤ 0.12 at every SF; verdict bound
    {_MH_EST_BOUND} with slack — 16 hashes give σ ≈ √(J(1−J)/16) ≤
    0.125); (2) candidate_bias — the MEAN signed error over ALL
    banding candidates, which is strongly POSITIVE (+0.21…+0.24
    measured): banding SELECTS pairs whose signatures happen to
    agree, so the estimator conditioned on candidacy overestimates —
    the selection-bias effect every LSH user should know before
    trusting sketch-side similarity scores without the exact verify
    step (the pipelines here always verify; this query is the
    measured reason why). Numerics: est is dyadic (k/16 — exact in
    binary), J is one int/int division (identical IEEE rounding both
    engines), the bias mean quantizes each error to 9 dp DECIMAL
    before the order-sensitive sum, 6-dp presentation round.

    Scale/perf shape (restructured after its first bench line came in
    at 30.9 s): signatures PIVOT to ONE 16-column row per doc, so
    agreement is a skinny 3-way hash join (pair × two 16-int rows)
    instead of a 16-row-per-doc join; the exact verify is the
    inverted-index token join (count shared shingles per pair — the
    oracle's own shape) instead of joining collect_set arrays onto
    every pair row; a doc's token set is materialized once (eager
    checkpoint) for minhash AND verify; and the exact verify runs over
    the PLANTED truth set plus a deterministic 1-in-8 md5 hash sample
    of candidates (n_sampled reported) — at 100 TB nobody
    exact-verifies every candidate pair just for a calibration
    diagnostic, and the sample mean's standard error at thousands of
    pairs is ~0.003 against an effect of +0.24. A cheaper seed-derived
    linear-permutation family was measured and REJECTED: one md5 per
    shingle + 16 affine perms cut hashing 16× but the correlated
    permutations weakened both banding (2.4× more false candidates at
    sf0.1) and the estimator (planted max err 0.20 vs 0.12) — the
    md5-per-(shingle, seed) family keeps its measured quality and the
    hashing cost is the honest price of 16 independent permutations."""
    corpus = dup_corpus(spark, sf_dir)
    toks = lsh.shingle_tokens(corpus, "text", "doc_id", 5).distinct()
    toks = materialize(toks, eager=True)  # one materialization: minhash + verify
    # First consumer: the eager `verify` build below.
    minw = materialize(lsh._signatures(toks, 16, portable=True), eager=False)
    banded = lsh._bands(minw, 16, 4, portable=True)
    # Read by the agreement join and the exact verify.
    cand = materialize(lsh._candidates(banded, None), eager=False)
    agree = lsh._with_agreement(cand, minw, minw, 16)
    planted = F.col("id_b") == F.col("id_a") + DUP_OFFSET
    in_sample = (
        md5_int(
            F.concat(F.col("id_a").cast("string"), F.lit("_"), F.col("id_b").cast("string"))
        )
        % 8
        == 0
    )
    # Eager: the sh build's cand_ids and the final assembly read it concurrently.
    verify = materialize(
        cand.select(
            "id_a", "id_b", planted.alias("is_planted"), in_sample.alias("in_sample")
        )
        .filter(F.col("is_planted") | F.col("in_sample")),
        eager=True,
    )
    # r12 optimization (guide §2.3/§3): the exact-verify intersection was
    # an inverted-index double join of the verify pairs against the FULL
    # (id, g) token table — two sort-merge passes over ~1M rows per run.
    # Replaced with the minhash_lsh stage-3 shape: semi-join the token
    # table down to the ~1k docs the verify pairs touch, collect each
    # survivor's hashed shingle set ONCE (xxhash64 longs — collision
    # probability ~2^-64, the same hashed-verify convention
    # minhash_lsh_pairs uses), broadcast the per-doc sets, and compute
    # ninter as one array_intersect per pair. n comes from the same
    # grouped count (toks is distinct per (id, g)), so est/jac are the
    # identical integer ratios. Plan diff: 2 SortMergeJoin over the full
    # token table -> 1 semi-join + 2 broadcast joins over candidate docs.
    cand_ids = (
        verify.select(F.col("id_a").alias("cid"))
        .unionByName(verify.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    sh = materialize(
        toks.join(cand_ids, F.col("id") == F.col("cid"), "left_semi")
        .groupBy("id")
        .agg(
            F.collect_set(F.xxhash64("g")).alias("sh"),
            F.count(F.lit(1)).alias("n"),
        ),
        eager=True,
    )
    sha = sh.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n").alias("na")
    )
    shb = sh.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n").alias("nb")
    )
    ninter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("bigint")
    est = F.col("n_agree") / 16.0
    jac = ninter.cast("double") / (F.col("na") + F.col("nb") - ninter)
    j = (
        verify.join(agree, ["id_a", "id_b"])
        .join(sha, "id_a")
        .join(shb, "id_b")
        .select(
            "is_planted",
            "in_sample",
            est.alias("est"),
            jac.alias("jac"),
        )
    )
    n_cand = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    stats = j.agg(
        F.sum(F.when(F.col("is_planted"), 1).otherwise(0)).alias("n_planted"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).alias("n_sampled"),
        F.round(
            F.max(F.when(F.col("is_planted"), F.abs(F.col("est") - F.col("jac")))),
            6,
        ).alias("planted_max_err"),
        F.round(
            F.sum(
                F.when(
                    F.col("in_sample"),
                    F.round(F.col("est") - F.col("jac"), 9).cast("decimal(20,9)"),
                ).otherwise(F.lit(0).cast("decimal(20,9)"))
            ).cast("double")
            / F.sum(F.when(F.col("in_sample"), 1).otherwise(0)),
            6,
        ).alias("candidate_bias"),
        (
            F.max(F.when(F.col("is_planted"), F.abs(F.col("est") - F.col("jac"))))
            <= _MH_EST_BOUND
        ).alias("estimator_ok"),
    )
    return stats.crossJoin(F.broadcast(n_cand)).select(
        "n_candidates",
        "n_planted",
        "n_sampled",
        "planted_max_err",
        "candidate_bias",
        "estimator_ok",
    )
