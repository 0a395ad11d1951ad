"""Approximate nearest-neighbor search over embedding columns.

Exact brute-force cosine (operators/similarity.py) is the baseline and
the rerank kernel; these are the scale paths that keep the scan off
the full corpus at 100 TB:

- **Random-hyperplane LSH** (SimHash for vectors): b sign-bits of
  projections per table, T independent tables. A vector lands in one
  bucket per table; the query probes its own T buckets and reranks
  only the union. At scale the signature columns are precomputed at
  ingest and the probe is a partition-pruned equi-join on bucket ids
  (bucketed/clustered by signature), never a scan.
- **IVF** (inverted-file index): coarse centroids partition the corpus
  (Voronoi cells); each vector stores its cell id; the query probes
  the ``n_probe`` nearest cells. Cell id is the natural partition
  column at 100 TB, so probing = partition pruning.

Both have an INGEST-TIME materialized form (the 100 TB shape):
``write_lsh_index`` persists the bucket assignment partitioned by
``(t, bucket)``, and ``write_ivf_index`` — the one IVF writer — assigns
every row its cell against the centroids it is given and writes the
corpus partitioned by ``cell`` (by ``(label, cell)`` for per-label
centroids). The pruned query paths (``ivf_pruned_topk`` /
``lsh_pruned_topk``) read back with an equi-filter on the partition
column, so the scan physically skips the unprobed partitions
(PartitionFilters in the plan — asserted in tests/test_ann.py) instead
of recomputing signatures over the corpus per query.

IVF centroids are either a matrix (one set for the corpus) or a dict
label → matrix (one set per label); ``ivf_assign``, the Lloyd loop and
the writer take both. ``kmeans_centroids`` /
``kmeans_centroids_per_label`` run one spherical k-means Lloyd loop
(``_lloyd``) as DataFrame aggregations, with or without the label key
(assignment is a codegen'd projection, the per-cell mean is a groupBy
over exploded dims; only the k·dim centroid matrices ever reach the
driver, the same reduction shape MLlib's KMeans uses). IVF-PQ adds the
M code columns of ``pq_encode`` (the one PQ encoder, Arrow-batched)
and hands the frame to the same writer.

All scoring is JVM-side (zip_with/aggregate folds, no Python); the
hyperplanes/centroids are inlined as array literals into the plan
(tiny: T·b·dim doubles), the distributed analogue of a broadcast.
Every function reads the embeddings table's own column names
(``ID_COL`` / ``VEC_COL`` / ``LABEL_COL``); they are not per-call options.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.catalog import read_parquet
from sales_agent_graphdb_spark.operators.similarity import (
    ID_COL,
    VEC_COL,
    cosine,
    dot,
    duckdb_cosine_sql,
    knn,
    lit_vector,
    norm,
)

LABEL_COL = "label"
SEED = 42

# IVF centroids: one matrix for the corpus, or one matrix per label.
Centroids = np.ndarray | dict[int, np.ndarray]


def _hyperplanes(n_tables: int, n_planes: int, dim: int) -> np.ndarray:
    """Deterministic standard-normal hyperplanes, shape (T, b, dim)."""
    rng = np.random.RandomState(SEED)
    return rng.standard_normal((n_tables, n_planes, dim))


def _bucket_col(vec: Column, planes: np.ndarray) -> Column:
    """Bucket id for one table: b sign bits packed into a long."""
    bits = [
        (dot(vec, lit_vector(p)) > 0).cast("long") * (1 << j)
        for j, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def _signature_rows(embeddings: DataFrame, planes: np.ndarray) -> DataFrame:
    """Skinny (id, t, bucket) rows, one per vector and table — no
    vector payload, so T·n small rows."""
    v = F.col(VEC_COL)
    return embeddings.select(
        F.col(ID_COL).alias("id"),
        F.posexplode(F.array(*[_bucket_col(v, p) for p in planes])).alias("t", "bucket"),
    )


def _fold_dot(a, b) -> float:
    """Strict left-to-right Python-float fold — the same sequential
    double fold as Spark's aggregate() and DuckDB's list_sum, so all
    three engines agree bit-for-bit."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _query_buckets(planes: np.ndarray, query_vec: list[float]) -> list[int]:
    """The query's bucket id in each of the T tables, from fold-order
    dots, so each sign bit equals ``_bucket_col``'s in-plan fold and
    the DuckDB mirror's, even for a dot on a sign boundary."""
    return [
        sum(int(_fold_dot(p, query_vec) > 0) << j for j, p in enumerate(table))
        for table in planes
    ]


def _probe_cells(cents: np.ndarray, query_vec: list[float], n_probe: int) -> list[int]:
    """Top-n_probe cells by fold-order dot with the query, ties →
    lowest cell id (mirrors the oracle's ORDER BY dot DESC, cid)."""
    return sorted(
        range(len(cents)), key=lambda c: (-_fold_dot(cents[c], query_vec), c)
    )[:n_probe]


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates = rows sharing the
    query's bucket in ANY of the T tables; rerank = exact cosine.
    Collision probability per table is (1 - θ/π)^b — more tables raise
    recall, more planes shrink candidate sets. Defaults are tuned for
    near-orthogonal corpora (θ≈72°, p≈0.6/plane): b=4, T=8 gives
    ~0.66 recall per true neighbor at ~50% candidate fraction. Clustered
    real-world embeddings (θ small for true neighbors) support much
    larger b with high recall — tune b to the neighbor angle, T to the
    recall target."""
    planes = _hyperplanes(n_tables, n_planes, len(query_vec))
    q_buckets = _query_buckets(planes, query_vec)
    v = F.col(VEC_COL)
    match_any = None
    for t in range(n_tables):
        cond = _bucket_col(v, planes[t]) == F.lit(q_buckets[t])
        match_any = cond if match_any is None else (match_any | cond)
    return knn(embeddings, query_vec, k, where=match_any)


def _argmax_cell(v: Column, centroids: np.ndarray) -> Column:
    """The argmax-dot centroid index: array_max over struct(dot, -i)
    takes the max dot, ties to the lowest index."""
    scores = F.array(
        *[
            F.struct(dot(v, lit_vector(c)).alias("s"), F.lit(-i).alias("negi"))
            for i, c in enumerate(centroids)
        ]
    )
    return -F.array_max(scores)["negi"]


def _label_keys(centroids: Centroids) -> list[str]:
    """The columns a cell id is scoped by: none for one corpus-wide
    centroid matrix, ``label`` for per-label centroids."""
    return [LABEL_COL] if isinstance(centroids, dict) else []


def ivf_assign(embeddings: DataFrame, centroids: Centroids) -> DataFrame:
    """Add a ``cell`` column = argmax-dot centroid (ties → lowest id);
    at ingest time this is the partition column writers cluster by.

    A centroid matrix is one codegen'd projection. Per-label centroids
    are one CASE chain over labels that scores each row against its
    OWN label's set: CaseWhen evaluates only the matched branch, so a
    row pays n_cells dot folds however many labels exist. A row whose
    label has no centroid set gets cell NULL — an explicit NULL
    partition rather than a silently wrong cell."""
    v = F.col(VEC_COL)
    if not isinstance(centroids, dict):
        return embeddings.withColumn("cell", _argmax_cell(v, centroids))
    expr = None
    for lbl in sorted(centroids):
        cell = _argmax_cell(v, centroids[lbl]).cast("int")
        cond = F.col(LABEL_COL) == int(lbl)
        expr = F.when(cond, cell) if expr is None else expr.when(cond, cell)
    return embeddings.withColumn("cell", expr)


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF approximate top-k: assign cells, probe the n_probe cells
    whose centroids are nearest the query, rerank exact. The cell
    filter is the partition-pruning surrogate — at scale it prunes
    (n_cells - n_probe)/n_cells of the corpus before any scoring."""
    cents = _ivf_centroids(embeddings, n_cells)
    probe = _probe_cells(cents, query_vec, n_probe)
    assigned = ivf_assign(embeddings, cents)
    return knn(assigned, query_vec, k, where=F.col("cell").isin(probe))


def _ivf_centroids(embeddings: DataFrame, n_cells: int) -> np.ndarray:
    """First n_cells vectors by id as centroids (deterministic k-means
    INIT; one tiny point-read, cached by parquet footer stats)."""
    rows = embeddings.orderBy(ID_COL).select(VEC_COL).limit(n_cells).collect()
    return np.array([[float(x) for x in r[0]] for r in rows])


def _ivf_centroids_per_label(
    embeddings: DataFrame, n_cells: int
) -> dict[int, np.ndarray]:
    """First n_cells vectors by id WITHIN each label (one windowed
    top-N — a single shuffle of n_labels·n_cells skinny rows)."""
    w = Window.partitionBy(LABEL_COL).orderBy(ID_COL)
    rows = (
        embeddings.select(LABEL_COL, ID_COL, VEC_COL)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_cells)
        .collect()
    )
    by_label: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r[LABEL_COL], r[ID_COL])):
        by_label.setdefault(int(r[LABEL_COL]), []).append(
            [float(x) for x in r[VEC_COL]]
        )
    return {lbl: np.array(vs) for lbl, vs in by_label.items()}


def _unit_rows(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def _each(centroids: Centroids, fn) -> Centroids:
    """``fn`` over the centroid matrix, or over each label's matrix."""
    if isinstance(centroids, dict):
        return {lbl: fn(c) for lbl, c in centroids.items()}
    return fn(centroids)


def _lloyd(embeddings: DataFrame, init: Centroids, n_iter: int) -> Centroids:
    """Spherical k-means Lloyd iterations from ``init``, for one
    centroid matrix or per label (then every iteration is still ONE
    pass over the corpus for all labels at once, never a per-label job
    loop).

    Per iteration: (1) assignment = ``ivf_assign`` — one codegen'd
    projection; (2) update = the per-dim mean of every cell (of every
    label) via posexplode + groupBy([label,] cell, pos) — one shuffle
    of k·dim partial aggregates (map-side combined), after which only
    the k·dim centroid matrices are collected to the driver
    (scale-independent: they grow with the model, never with the
    corpus). Means are
    re-normalized to unit length so max-dot assignment == max-cosine;
    empty cells keep their previous centroid. Determinism: init and
    iteration count are fixed, and the mean SUMS IN EXACT
    DECIMAL(38,18) — order-independent — so centroids (and every cell
    assignment and probe choice derived from them) are bit-stable
    across rebuilds, partitionings and parallelism. The 18-digit
    quantization of the input doubles is irrelevant to clustering
    quality."""
    keys = _label_keys(init)
    cents = _each(init, _unit_rows)
    for _ in range(n_iter):
        rows = (
            ivf_assign(embeddings, cents)
            .select(*keys, "cell", F.posexplode(F.col(VEC_COL)).alias("pos", "val"))
            .groupBy(*keys, "cell", "pos")
            .agg(
                F.avg(F.col("val").cast("decimal(38,18)"))
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        new = _each(cents, np.copy)
        for r in rows:
            (new[int(r[LABEL_COL])] if keys else new)[r["cell"]][r["pos"]] = r["m"]
        cents = _each(new, _unit_rows)
    return cents


def kmeans_centroids(
    embeddings: DataFrame, n_cells: int = 16, n_iter: int = 3
) -> np.ndarray:
    """Spherical k-means centroids for the whole corpus: ``_lloyd``
    from the first n_cells vectors by id."""
    return _lloyd(embeddings, _ivf_centroids(embeddings, n_cells), n_iter)


def kmeans_centroids_per_label(
    embeddings: DataFrame, n_cells: int = 16, n_iter: int = 3
) -> dict[int, np.ndarray]:
    """Spherical k-means centroids per label: ``_lloyd`` from the first
    n_cells vectors by id within each label; only n_labels·k·dim
    doubles reach the driver per iteration."""
    return _lloyd(embeddings, _ivf_centroids_per_label(embeddings, n_cells), n_iter)


def write_ivf_index(embeddings: DataFrame, path: str, centroids: Centroids) -> None:
    """INGEST-TIME IVF index materialization (reference builds its
    persistent HNSW index at ingest, db_service.py:193-199; the Spark
    analogue is a cell-partitioned table): ``ivf_assign`` every row
    against ``centroids`` and write the frame partitioned by ``cell``,
    so every later probe is physical partition pruning on the read,
    not a recompute over the corpus. The centroids are the query-time
    sidecar the caller keeps next to the index.

    Per-label centroids write the FILTER-PARTITIONED form, partitioned
    by ``(label, cell)``: a filtered probe prunes on BOTH columns — the
    metadata predicate reads only its labels' directories (exact by
    construction, zero recall cost) and the cell probe keeps its full
    n_probe/n_cells pruning WITHIN them."""
    (
        ivf_assign(embeddings, centroids)
        .write.mode("overwrite")
        .partitionBy(*_label_keys(centroids), "cell")
        .parquet(path)
    )


def ivf_pruned_topk(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """IVF top-k over the MATERIALIZED index: probe = equi-filter on
    the ``cell`` partition column → the parquet scan's PartitionFilters
    skip (n_cells - n_probe)/n_cells of the files before any cosine is
    evaluated (asserted by plan probe in tests/test_ann.py). This is
    the scale path ``ivf_topk`` only simulated."""
    probe = _probe_cells(centroids, query_vec, n_probe)
    idx = read_parquet(spark, index_path)
    return knn(idx, query_vec, k, where=F.col("cell").isin(probe))


def write_lsh_index(
    spark,
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_tables: int = 8,
    n_planes: int = 4,
) -> None:
    """INGEST-TIME hyperplane-LSH index: skinny (id, t, bucket) rows —
    no vectors, so the index is O(T·n) longs, not T copies of the
    corpus — written partitioned by (t, bucket). A probe reads exactly
    T partition directories (one bucket per table); everything else is
    physically skipped. T·2^b directories total (128 here); at 100 TB
    size b so each bucket partition lands in the 128-512 MB file-size
    sweet spot."""
    sigs = _signature_rows(embeddings, _hyperplanes(n_tables, n_planes, dim))
    sigs.write.mode("overwrite").partitionBy("t", "bucket").parquet(path)


def lsh_pruned_topk(
    spark,
    index_path: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
) -> DataFrame:
    """LSH top-k over the MATERIALIZED index: compute the query's T
    bucket ids driver-side (T·b dot products on one vector), prune-read
    exactly those T partitions for candidate ids, then rerank with
    exact cosine after a broadcast semi-join back to the corpus. The
    corpus is only touched for candidate rows (at 100 TB the base
    table is bucketed by id — sources/bucketing.py — so the join-back
    prunes too); contrast ``hyperplane_lsh_topk``, which re-signs the
    whole corpus per query."""
    q_buckets = _query_buckets(_hyperplanes(n_tables, n_planes, len(query_vec)), query_vec)
    idx = read_parquet(spark, index_path)
    probe = None
    for t, qb in enumerate(q_buckets):
        cond = (F.col("t") == t) & (F.col("bucket") == qb)
        probe = cond if probe is None else (probe | cond)
    cand_ids = idx.filter(probe).select(F.col("id").alias(ID_COL)).distinct()
    cand = embeddings.join(F.broadcast(cand_ids), ID_COL)
    return knn(cand, query_vec, k)


def hyperplane_dedup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.3,
    n_tables: int = 8,
    n_planes: int = 4,
) -> DataFrame:
    """LSH-fed embedding near-dup pairs — the 100 TB replacement for the
    all-pairs cosine cartesian (queries/dedup.py dedup_embedding_cosine,
    which stays registered as the exact verification kernel only).

    Cascade, mirroring lsh.minhash_lsh_pairs: (1) skinny signature rows
    (id, table, bucket) — no vectors — so the band self-join shuffles
    ~T·n small rows; (2) candidate pairs = ids sharing a bucket in ANY
    table, deduped; (3) verify = exact cosine on candidates only, after
    joining the vectors back. Cost is O(Σ_bucket |bucket|²) instead of
    O(n²); recall per true pair at angle θ is 1-(1-(1-θ/π)^b)^T
    (pytest pins it against the exact kernel)."""
    sigs = _signature_rows(embeddings, _hyperplanes(n_tables, n_planes, dim))
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ea = embeddings.select(F.col(ID_COL).alias("id_a"), F.col(VEC_COL).alias("ea"))
    eb = embeddings.select(F.col(ID_COL).alias("id_b"), F.col(VEC_COL).alias("eb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cosine(F.col("ea"), F.col("eb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def duckdb_lsh_topk_sql(
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
    query_id: int = 0,
) -> str:
    """Full SQL mirror of hyperplane_lsh_topk (and of lsh_pruned_topk
    over a write_lsh_index index) for the query vector of id
    ``query_id``: literal planes, fold-order dot products (list_sum
    over list order — matches Spark's aggregate fold and
    ``_fold_dot``, proven bit-exact by the v1 oracle)."""
    planes = _hyperplanes(n_tables, n_planes, dim)
    match = " OR ".join(
        f"{_bucket_sql('e.embedding', planes[t], n_planes)}"
        f" = {_bucket_sql('q.qv', planes[t], n_planes)}"
        for t in range(n_tables)
    )
    cos = duckdb_cosine_sql("e.embedding", "q.qv")
    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id})
    SELECT e.vec_id, {cos} AS sim
    FROM embeddings e CROSS JOIN q
    WHERE {match}
    ORDER BY sim DESC, e.vec_id LIMIT {k}
    """


def duckdb_fold_dot_sql(a: str, b: str) -> str:
    """THE oracle dot: DuckDB fold-order dot product of two SQL list
    expressions (list_sum over list order == Spark's aggregate fold).
    Every DuckDB mirror in this module must use this one definition —
    a divergent copy would silently break bit-exactness for its path."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def _plane_lit_sql(plane) -> str:
    """A hyperplane as a DuckDB double-list literal (repr = shortest
    round-trip form, bit-exact)."""
    return "[" + ", ".join(repr(float(x)) for x in plane) + "]"


def _bucket_sql(vec: str, table_planes, n_planes: int) -> str:
    """Sign-bit bucket id of ``vec`` against one table's planes."""
    terms = [
        f"(CASE WHEN {duckdb_fold_dot_sql(vec, _plane_lit_sql(table_planes[j]))} > 0"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    ]
    return "(" + " + ".join(terms) + ")"


def duckdb_ivf_cells_sql(n_cells: int = 16) -> str:
    """THE DuckDB IVF text, two CTEs for a ``WITH`` list: ``cents``
    (cid, cv) — the first n_cells vectors by id, ``_ivf_centroids``'
    derivation — and ``assign`` (vec_id, embedding, cell) — every
    embeddings row with its argmax-fold-dot cell, ties → lowest cid via
    ORDER BY (dot DESC, cid), ``ivf_assign``'s rule."""
    return f"""cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_cells})),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM cents c
              ORDER BY {duckdb_fold_dot_sql("c.cv", "e.embedding")} DESC, c.cid LIMIT 1) AS cell
      FROM embeddings e)"""


def duckdb_ivf_topk_sql(
    k: int = 5, n_cells: int = 16, n_probe: int = 4, query_id: int = 0
) -> str:
    """SQL mirror of ivf_topk (and of ivf_pruned_topk over an index
    written with the first-N-by-id centroids) for the query vector of
    id ``query_id``: ``duckdb_ivf_cells_sql``'s centroids and
    assignment, the probe cells by the same fold-order dot with the
    same lowest-cell tie break, exact-cosine rerank."""
    cos = duckdb_cosine_sql("a.embedding", "q.qv")
    return f"""
    WITH {duckdb_ivf_cells_sql(n_cells)},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
    probe AS (
      SELECT cid FROM cents, q
      ORDER BY {duckdb_fold_dot_sql("cv", "qv")} DESC, cid LIMIT {n_probe})
    SELECT a.vec_id, {cos} AS sim
    FROM assign a CROSS JOIN q
    WHERE a.cell IN (SELECT cid FROM probe)
    ORDER BY sim DESC, a.vec_id LIMIT {k}
    """


def semantic_cell_dedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.3,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space into cells, then
    mark every vector that has an above-threshold cosine neighbor with
    a SMALLER id inside its own cell as a semantic duplicate of the
    smallest such neighbor. The clustering-based complement of
    hyperplane_dedup_pairs: LSH catches near-identical vectors across
    the whole space; SemDeDup prunes the pairwise comparison to
    semantic neighborhoods, which is the form large training-data
    pipelines run because the cells double as the storage partitioning.

    Scale shape: assignment is one codegen'd projection (argmax
    fold-dot over k centroid literals — ingest-time it is the written
    ``cell`` partition column, see write_ivf_index); the pairwise
    compare is an equi-join ON THE CELL KEY, so cost is O(Σ_cell
    |cell|²), never O(n²), and k grows with the corpus to bound
    |cell|. Centroids here are the deterministic first-N-by-id
    (portable across engines — the same choice the IVF oracle family
    proves bit-exact); the k-means centroids of kmeans_centroids are
    the quality path when oracle portability is not required.

    Returns (cell, drop_vec_id, keep_vec_id, cos_sim): one row per
    dropped vector, keep = its smallest above-threshold cell-mate,
    cos_sim = similarity of that kept pair."""
    cents = _ivf_centroids(embeddings, n_cells)
    # Precompute each row's L2 norm BEFORE the pairwise join: cosine =
    # dot/(norm_a*norm_b) evaluated per pair would fold each vector's
    # norm |cell| times; hoisting it leaves one dot-fold per pair (~3x
    # less expression work, measured ~2x wall at sf0.1). Bit-exact
    # unchanged: same fold over the same vector yields the same double
    # wherever it is computed.
    assigned = ivf_assign(embeddings, cents).select(
        F.col(ID_COL).alias("id"),
        F.col(VEC_COL).alias("v"),
        norm(F.col(VEC_COL)).alias("nrm"),
        "cell",
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    hits = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("b.cell").alias("cell"),
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
    # min over struct(id_a, cos_sim) compares id_a first (unique per
    # group), so this picks the smallest keeper AND its similarity in
    # one aggregate.
    m = F.min(F.struct(F.col("id_a").alias("k"), F.col("cos_sim").alias("c")))
    return (
        hits.groupBy("cell", F.col("id_b").alias("drop_vec_id"))
        .agg(m.alias("m"))
        .select(
            "cell",
            "drop_vec_id",
            F.col("m.k").alias("keep_vec_id"),
            F.col("m.c").alias("cos_sim"),
        )
        .orderBy("drop_vec_id")
    )


def duckdb_semantic_cell_dedup_sql(
    n_cells: int = 16, threshold: float = 0.3
) -> str:
    """Full SQL mirror of semantic_cell_dedup: ``duckdb_ivf_cells_sql``'s
    centroids and assignment, the same within-cell cosine and
    smallest-keeper decision, all fold-order arithmetic so the driver
    hash-checks the whole pipeline."""
    cos = duckdb_cosine_sql("a.embedding", "b.embedding")
    return f"""
    WITH {duckdb_ivf_cells_sql(n_cells)},
    hits AS (
      SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {cos} >= {threshold})
    SELECT cell, id_b AS drop_vec_id,
           MIN(id_a) AS keep_vec_id,
           arg_min(cos_sim, id_a) AS cos_sim
    FROM hits
    GROUP BY cell, id_b
    ORDER BY drop_vec_id
    """


def duckdb_hyperplane_dedup_sql(
    threshold: float = 0.3,
    n_tables: int = 8,
    n_planes: int = 4,
    dim: int = 64,
) -> str:
    """Full SQL mirror of hyperplane_dedup_pairs: the same seeded
    hyperplanes inlined as literals, per-vector bucket ids via
    fold-order dots (sign bits are bit-identical across engines, so
    bucket equality — and hence the candidate set — is too), candidate
    pairs sharing a bucket in ANY table, exact-cosine verify. Makes the
    registered embedding-dedup SCALE path directly hash-checkable —
    no separate twin needed, because the perf path's hashes are already
    engine-portable arithmetic."""
    planes = _hyperplanes(n_tables, n_planes, dim)
    buckets = ", ".join(
        _bucket_sql("embedding", planes[t], n_planes) for t in range(n_tables)
    )
    cos = duckdb_cosine_sql("ea.embedding", "eb.embedding")
    return f"""
    WITH sig AS (
      SELECT vec_id AS id, [{buckets}] AS bks FROM embeddings),
    expl AS (
      SELECT id, g.t AS t, bks[g.t + 1] AS bucket
      FROM sig, unnest(generate_series(0, {n_tables - 1})) AS g(t)),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM expl a JOIN expl b
        ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id)
    SELECT c.id_a, c.id_b, {cos} AS cos_sim
    FROM cand c
    JOIN embeddings ea ON ea.vec_id = c.id_a
    JOIN embeddings eb ON eb.vec_id = c.id_b
    WHERE {cos} >= {threshold}
    ORDER BY id_a, id_b
    """


# ---------------------------------------------------------------------------
# Product quantization (PQ): split each vector into M subvectors, learn
# a K-centroid codebook per subspace (plain Euclidean means — NOT the
# spherical normalization above: PQ approximates the dot product
# additively per subspace), encode every vector as M small codes, and
# score queries by Asymmetric Distance Computation (ADC): a per-query
# M×K lookup table of subspace dot products, summed by code. 64 dims ×
# float32 → M bytes per vector (32× compression at M=8).
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace (4-bit codes)


def pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = 3,
    n_sample: int = 2048,
) -> np.ndarray:
    """Per-subspace Lloyd k-means over a BOUNDED DETERMINISTIC SAMPLE
    (VERDICT r08 #2): the first ``n_sample`` vectors by id — Spark
    plans ``orderBy(id).limit(n)`` as TakeOrderedAndProject (map-side
    partial top-n, no global sort), so at 100 TB the driver collects
    n·dim doubles (≈1 MB at the default) and the FULL corpus pays
    only the single pq_encode pass. Training runs driver-side in
    numpy on the collected sample — the same bounded-frame discipline
    as vec_mmr_rerank's 380 doubles. Determinism: fixed first-k-by-id
    init, fixed iteration count, single-threaded float64 updates in
    sample order — rebuilds are bit-identical (pinned by
    tests/test_round8_ops.py). Assignment matches pq_encode exactly:
    argmax of (dot − ‖c‖²/2), ties to the LOWEST code; codes with no
    members keep their previous centroid."""
    d_sub = dim // m_sub
    sample = (
        embeddings.orderBy(ID_COL).select(VEC_COL).limit(max(n_sample, k)).collect()
    )
    x = np.array([[float(v) for v in r[0]] for r in sample])  # [N][dim]
    books = np.stack(
        [x[:k, m * d_sub : (m + 1) * d_sub].copy() for m in range(m_sub)]
    )  # [M][K][d_sub]
    for _ in range(n_iter):
        new = books.copy()
        for m in range(m_sub):
            xm = x[:, m * d_sub : (m + 1) * d_sub]
            cm = books[m]
            # score[i, c] = dot(x_i, c) − ‖c‖²/2; np.argmax returns the
            # FIRST max, i.e. the lowest code on ties — pq_encode's rule.
            scores = xm @ cm.T - 0.5 * np.einsum("ij,ij->i", cm, cm)
            codes = np.argmax(scores, axis=1)
            for c in range(k):
                members = xm[codes == c]
                if len(members):
                    new[m][c] = members.mean(axis=0)
        books = new
    return books


def pq_encode(embeddings: DataFrame, books: np.ndarray) -> DataFrame:
    """Add code_m columns: per subspace, the index of the centroid with
    min Euclidean distance (== max (dot − ‖c‖²/2)); ties → lowest code
    (np.argmax's first max). One mapInPandas pass doing the M·K scores
    per Arrow batch in numpy; an unrolled JVM expression for the same
    argmax is ~M·K·d_sub nodes (1024 at 8×16×8), measured at ~8 s of
    one-time Janino compile plus seconds of py4j plan construction per
    call. At 100 TB this is the single encode pass whose output
    (M bytes/vector) is what the ANN tier stores and scans."""
    m_sub, k, d_sub = books.shape
    cbs = [np.asarray(books[m], dtype=np.float64) for m in range(m_sub)]
    half = [0.5 * np.einsum("ij,ij->i", c, c) for c in cbs]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in embeddings.schema.fields]
        + [f"code_{m} int" for m in range(m_sub)]
    )
    vpos = embeddings.columns.index(VEC_COL)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                # np.array over zero rows is 1-D and the subspace slice
                # would IndexError; empty batches are routine at scale
                # (empty partitions after a filter), so pass them
                # through with the code columns added (ADVICE r09).
                for m in range(m_sub):
                    pdf[f"code_{m}"] = np.array([], dtype="int32")
                yield pdf
                continue
            x = np.array([np.asarray(v, dtype=np.float64) for v in pdf.iloc[:, vpos]])
            for m in range(m_sub):
                xm = x[:, m * d_sub : (m + 1) * d_sub]
                pdf[f"code_{m}"] = np.argmax(xm @ cbs[m].T - half[m], axis=1).astype(
                    "int32"
                )
            yield pdf

    return embeddings.mapInPandas(encode, out_schema)


def pq_adc_score(books: np.ndarray, query_vec: list[float]) -> Column:
    """ADC score expression: Σ_m lut[m][code_m], where lut[m][c] =
    dot(q_m, c_{m,c}) is computed driver-side (M·K doubles) and rides
    the plan as array literals — the scan reads ONLY the code columns
    (M bytes/row), never the vectors."""
    m_sub, k, d_sub = books.shape
    q = np.asarray(query_vec, dtype=float)
    acc = None
    for m in range(m_sub):
        qm = q[m * d_sub : (m + 1) * d_sub]
        lut = [float(qm @ books[m][c]) for c in range(k)]
        # One parsed SQL literal per sub-quantizer instead of
        # F.array(*[F.lit(x)...]): M·K element-wise lits are M·K py4j
        # round trips of pure driver time (seconds at M=8, K=256 —
        # measured r12); one expr() string parses JVM-side. The 'D'
        # suffix pins DoubleType (a bare decimal would parse as
        # DECIMAL), and repr() is the exact shortest round-trip form.
        # Non-finite LUT entries (inf/nan would render unparseable)
        # fall back to the F.lit path (r13, ADVICE r12).
        if all(math.isfinite(x) for x in lut):
            lut_sql = "array(" + ",".join(repr(x) + "D" for x in lut) + ")"
            lut_col = F.expr(lut_sql)
        else:
            lut_col = F.array(*[F.lit(x).cast("double") for x in lut])
        term = F.element_at(lut_col, F.col(f"code_{m}") + 1)
        acc = term if acc is None else acc + term
    return acc


def write_ivfpq_index(
    embeddings: DataFrame, path: str, n_cells: int = 16, dim: int = 64
) -> tuple[np.ndarray, np.ndarray]:
    """INGEST-TIME IVF-PQ index: ``pq_encode``, then ``write_ivf_index``
    with k-means centroids — one table, cell-PARTITIONED (probes are
    physical partition pruning) with the M PQ code columns stored NEXT
    TO the full vector: candidate generation reads only (vec_id,
    code_*) via column pruning (M bytes of codes instead of dim
    floats), the exact rerank reads the vector column for the C
    survivors only. Returns (centroids, codebooks) — the query-time
    sidecar. Both trainings are deterministic (cells: DECIMAL-exact
    distributed Lloyd; PQ codebooks: driver-side numpy Lloyd on the
    first-n-by-id sample), so the index and every verdict derived
    from it are bit-stable across rebuilds."""
    cents = kmeans_centroids(embeddings, n_cells)
    books = pq_codebooks(embeddings, dim=dim)
    write_ivf_index(pq_encode(embeddings, books), path, cents)
    return cents, books
