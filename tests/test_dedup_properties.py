"""Semantics checks for the rows-only dedup operators: LSH recall vs
exact Jaccard, SimHash collision behavior on planted duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.queries.dedup import DUP_OFFSET, dup_corpus
from sales_agent_graphdb_spark.operators import lsh
from tests.conftest import SF_SMALL


# max_bucket_size=128 mirrors the registered dedup_minhash_lsh query's
# shipped configuration (queries/dedup.py) — the cap can only lose
# pairs, so recall must hold under it too, not just uncapped.
@pytest.mark.parametrize("max_bucket_size", [None, 128])
def test_minhash_lsh_recall_vs_exact(spark, max_bucket_size):
    corpus = dup_corpus(spark, SF_SMALL)
    # ground truth: exact Jaccard >= 0.5 over the same shingles
    # (k=5, matching minhash_lsh_pairs' default shingle_k)
    sh = corpus.select("doc_id", lsh.char_shingles(F.col("text"), 5).alias("g"))
    a, b = sh.alias("a"), sh.alias("b")
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            lsh.jaccard(F.col("a.g"), F.col("b.g")).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in lsh.minhash_lsh_pairs(
            corpus, jaccard_threshold=0.5, max_bucket_size=max_bucket_size
        ).collect()
    }
    assert truth, "planted duplicates must produce ground-truth pairs"
    # post-verification LSH can only miss (banding), never invent
    assert found <= truth
    recall = len(found & truth) / len(truth)
    assert recall >= 0.95, f"LSH recall {recall:.2f} < 0.95 ({len(found)}/{len(truth)})"


def test_simhash_exact_dups_collide(spark):
    corpus = dup_corpus(spark, SF_SMALL)
    pairs = lsh.simhash_near_dup_pairs(corpus, max_hamming=3).collect()
    got = {(r.id_a, r.id_b): r.hamming for r in pairs}
    # the planted identical copies (doc_id in [40,60)) must collide at 0
    exact_ids = [
        r.doc_id
        for r in corpus.filter(
            (F.col("doc_id") >= 40) & (F.col("doc_id") < 60)
        ).collect()
    ]
    assert exact_ids
    for i in exact_ids:
        assert got.get((i, i + DUP_OFFSET)) == 0, f"exact dup {i} not found at hamming 0"


def test_simhash_is_64_bitstring(spark):
    corpus = dup_corpus(spark, SF_SMALL).limit(10)
    rows = corpus.select(lsh.simhash(F.col("text")).alias("sh")).collect()
    for r in rows:
        assert len(r.sh) == 64 and set(r.sh) <= {"0", "1"}


def test_embedding_lsh_recall_vs_exact(spark):
    """dedup_embedding_lsh (hyperplane buckets → cosine verify) vs the
    exact all-pairs kernel: subset property must be exact (verify
    recomputes true cosine) and recall must clear the analytic
    1-(1-p^b)^T expectation for random near-orthogonal vectors."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.operators import ann, similarity as sim

    emb = catalog.load_table(spark, SF_SMALL, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.cosine(F.col("ea"), F.col("eb")).alias("c"))
        .filter(F.col("c") >= 0.3)
        .collect()
    }
    dim = len(emb.select("embedding").head()[0])
    found = {
        (r.id_a, r.id_b)
        for r in ann.hyperplane_dedup_pairs(emb, dim=dim, threshold=0.3).collect()
    }
    assert truth, "threshold 0.3 must produce ground-truth pairs"
    assert found <= truth  # verify stage recomputes exact cosine
    recall = len(found & truth) / len(truth)
    assert recall >= 0.45, f"embedding-LSH recall {recall:.2f} < 0.45"


def test_incremental_minhash_finds_planted_sources(spark):
    """minhash_lsh_join(batch, corpus): every planted duplicate
    (doc_id+DUP_OFFSET) must match its source doc, results must be a
    subset of exact batch-x-corpus Jaccard >= 0.5, and no pair may
    pair a batch doc with an unrelated source at J < threshold
    (verify stage recomputes exact Jaccard)."""
    full = dup_corpus(spark, SF_SMALL)
    batch = full.filter(F.col("doc_id") >= DUP_OFFSET)
    corpus = full.filter(F.col("doc_id") < DUP_OFFSET)
    found = {
        (r.new_id, r.corpus_id)
        for r in lsh.minhash_lsh_join(
            batch, corpus, jaccard_threshold=0.5, max_bucket_size=128
        ).collect()
    }
    # exact ground truth between the two sides at the same shingling
    sha = batch.select("doc_id", lsh.char_shingles(F.col("text"), 5).alias("g"))
    shb = corpus.select("doc_id", lsh.char_shingles(F.col("text"), 5).alias("g"))
    truth = {
        (r.id_a, r.id_b)
        for r in sha.alias("a")
        .join(shb.alias("b"), F.lit(True))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            lsh.jaccard(F.col("a.g"), F.col("b.g")).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
        .collect()
    }
    planted = {(i + DUP_OFFSET, i) for i in range(60) if (i + DUP_OFFSET, i) in truth}
    exact_copies = {(i + DUP_OFFSET, i) for i in range(40, 60)} & truth
    assert planted, "planted batch->source pairs must exist in ground truth"
    assert found <= truth
    # Exact copies (J=1) always collide in every band: must all be hit.
    assert exact_copies <= found
    # Near-dups: the lowest planted J is ~0.70, where banding keeps a
    # pair with prob 1-(1-J^4)^8 ~ 0.88 — individual misses are
    # expected LSH behavior (deterministic, hashes are fixed), so pin
    # aggregate recall instead of per-pair membership.
    recall = len(planted & found) / len(planted)
    assert recall >= 0.9, f"planted recall {recall:.2f} < 0.9"


def test_cluster_canonical_matches_exact_components(spark):
    """dedup_cluster_canonical's clustering must agree with connected
    components over the EXACT-Jaccard pair graph wherever LSH found
    the pairs (LSH can only drop edges — banding misses — so every
    LSH cluster must be a subset of exactly one exact cluster, and
    every planted exact-duplicate pair must land in the same LSH
    cluster)."""
    import json

    from sales_agent_graphdb_spark.queries.dedup import cluster_canonical_frame

    rows = cluster_canonical_frame(spark, SF_SMALL).collect()
    assert rows, "planted duplicates must produce clusters"
    # exact ground-truth components via union-find over exact pairs
    corpus = dup_corpus(spark, SF_SMALL)
    sh = corpus.select("doc_id", lsh.char_shingles(F.col("text"), 5).alias("g"))
    a, b = sh.alias("a"), sh.alias("b")
    exact_pairs = [
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            lsh.jaccard(F.col("a.g"), F.col("b.g")).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
        .collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for x, y in exact_pairs:
        parent[find(x)] = find(y)
    exact_root = {x: find(x) for x in list(parent)}

    for r in rows:
        members = json.loads(r.member_ids)
        assert r.canonical_doc_id == min(members)
        assert r.cluster_size == len(members)
        # subset property: one LSH cluster never spans two exact clusters
        roots = {exact_root.get(m, m) for m in members}
        assert len(roots) == 1, f"cluster {members} spans exact components {roots}"
    # planted exact copies (doc_id in [40,60) duplicated at +DUP_OFFSET)
    # must be clustered together
    clustered = {m: r.canonical_doc_id for r in rows for m in json.loads(r.member_ids)}
    for i in range(40, 60):
        assert clustered.get(i) == clustered.get(i + DUP_OFFSET), (
            f"planted exact pair ({i}, {i + DUP_OFFSET}) not co-clustered"
        )


def test_containment_finds_planted_and_is_directional(spark):
    """dedup_containment — every planted copy pairs with its source
    (the near-dup copies CONTAIN the original: containment 1.0 in the
    a→b direction, < 1.0 back for the suffix-perturbed ones), and the
    stop-shingle cap never drops a planted pair."""
    from sales_agent_graphdb_spark.queries.dedup import dedup_containment

    rows = {(r.id_a, r.id_b): r for r in dedup_containment(spark, SF_SMALL).collect()}
    planted = {(i, i + DUP_OFFSET) for i in range(60)}
    missing = planted - set(rows)
    assert not missing, f"planted pairs missing: {sorted(missing)[:5]}"
    for i in range(40):  # suffix-perturbed copies: strict containment
        r = rows[(i, i + DUP_OFFSET)]
        assert r.containment_a_in_b == 1.0
        assert r.containment_b_in_a < 1.0
    for i in range(40, 60):  # exact copies: symmetric 1.0
        r = rows[(i, i + DUP_OFFSET)]
        assert r.containment_a_in_b == 1.0 and r.containment_b_in_a == 1.0


def test_semantic_cell_dedup_decisions_are_sound(spark):
    """dedup_semantic_cell — every decision row is internally consistent
    (keep < drop, cos >= threshold, keep is the SMALLEST qualifying
    cell-mate) and the drop set is exactly the vectors that have some
    smaller-id above-threshold neighbor WITHIN THEIR CELL — i.e. the
    within-cell restriction of the exact all-pairs kernel."""
    from sales_agent_graphdb_spark.operators import ann
    from sales_agent_graphdb_spark import catalog

    emb = catalog.load_table(spark, SF_SMALL, "embeddings")
    out = {
        r.drop_vec_id: r
        for r in ann.semantic_cell_dedup(emb, n_cells=16, threshold=0.3).collect()
    }
    assert out, "threshold 0.3 must produce semantic duplicates at sf0.001"
    # ground truth: within-cell exact pairs over the same deterministic
    # centroids/assignment
    cents = ann._ivf_centroids(emb, 16)
    assigned = ann.ivf_assign(emb, cents).select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"), "cell"
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    from sales_agent_graphdb_spark.operators.similarity import cosine

    truth = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("b.cell").alias("cell"),
            cosine(F.col("a.v"), F.col("b.v")).alias("c"),
        )
        .filter(F.col("c") >= 0.3)
        .collect()
    )
    best = {}  # drop -> (min keeper, its cos, cell)
    for r in truth:
        cur = best.get(r.id_b)
        if cur is None or r.id_a < cur[0]:
            best[r.id_b] = (r.id_a, r.c, r.cell)
    assert set(out) == set(best)
    for drop, r in out.items():
        keep, cos, cell = best[drop]
        assert r.keep_vec_id == keep and r.keep_vec_id < drop
        assert r.cos_sim == cos and r.cos_sim >= 0.3
        assert r.cell == cell
