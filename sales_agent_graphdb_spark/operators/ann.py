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

Both have an INGEST-TIME materialized form (the 100 TB shape): the
index writers (``write_ivf_index`` / ``write_lsh_index``) persist the
cell/bucket assignment partitioned by it, and the pruned query paths
(``ivf_pruned_topk`` / ``lsh_pruned_topk``) read back with an
equi-filter on the partition column, so the scan physically skips the
unprobed partitions (PartitionFilters in the plan — asserted in
tests/test_ann.py) instead of recomputing signatures over the corpus
per query. IVF centroids come from ``kmeans_centroids`` — spherical
k-means Lloyd iterations run as DataFrame aggregations (assignment is
a codegen'd projection, the per-cell mean is a groupBy over exploded
dims; only the k·dim centroid matrix ever reaches the driver, the
same reduction shape MLlib's KMeans uses).

All scoring is JVM-side (zip_with/aggregate folds, no Python); the
hyperplanes/centroids are inlined as array literals into the plan
(tiny: T·b·dim doubles), the distributed analogue of a broadcast.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.catalog import read_parquet
from sales_agent_graphdb_spark.operators.similarity import cosine, dot, knn, lit_vector

SEED = 42


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


def _signature_rows(
    embeddings: DataFrame, planes: np.ndarray, id_col: str, vec_col: str
) -> DataFrame:
    """Skinny (id, t, bucket) rows, one per vector and table — no
    vector payload, so T·n small rows."""
    v = F.col(vec_col)
    return embeddings.select(
        F.col(id_col).alias("id"),
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
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    v = F.col(vec_col)
    match_any = None
    for t in range(n_tables):
        cond = _bucket_col(v, planes[t]) == F.lit(q_buckets[t])
        match_any = cond if match_any is None else (match_any | cond)
    return knn(embeddings, query_vec, k, id_col, vec_col, where=match_any)


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


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
) -> DataFrame:
    """Add a ``cell`` column = argmax-dot centroid (ties → lowest id).
    One codegen'd projection; at ingest time this is the partition
    column writers cluster by."""
    return embeddings.withColumn("cell", _argmax_cell(F.col(vec_col), centroids))


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: assign cells, probe the n_probe cells
    whose centroids are nearest the query, rerank exact. The cell
    filter is the partition-pruning surrogate — at scale it prunes
    (n_cells - n_probe)/n_cells of the corpus before any scoring."""
    cents = _ivf_centroids(embeddings, n_cells, id_col, vec_col)
    probe = _probe_cells(cents, query_vec, n_probe)
    assigned = ivf_assign(embeddings, cents, vec_col)
    return knn(
        assigned, query_vec, k, id_col, vec_col, where=F.col("cell").isin(probe)
    )


def _ivf_centroids(
    embeddings: DataFrame, n_cells: int, id_col: str, vec_col: str
) -> np.ndarray:
    """First n_cells vectors by id as centroids (deterministic k-means
    INIT; one tiny point-read, cached by parquet footer stats)."""
    rows = (
        embeddings.orderBy(id_col).select(vec_col).limit(n_cells).collect()
    )
    return np.array([[float(x) for x in r[0]] for r in rows])


def _unit_rows(m: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(m, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return m / norms


def kmeans_centroids(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Spherical k-means via Lloyd iterations expressed as DataFrame
    ops (replaces the first-N-by-id centroid stand-in, VERDICT r01 #2).

    Per iteration: (1) assignment = ``ivf_assign`` — one codegen'd
    projection, no shuffle beyond the agg below; (2) update = per-cell
    per-dim mean via posexplode + groupBy(cell, pos).avg — one shuffle
    of k·dim partial aggregates (map-side combined), after which only
    the k·dim centroid matrix is collected to the driver (16×64 doubles
    here; this driver-side reduction is the same shape MLlib's KMeans
    uses per iteration, and is scale-independent: it grows with k·dim,
    never with corpus size). Means are re-normalized to unit length so
    max-dot assignment == max-cosine (spherical k-means); empty cells
    keep their previous centroid. Determinism (r08, ADVICE r07 #2):
    init (first-n-by-id) and iteration count are fixed, and the
    per-cell mean SUMS IN EXACT DECIMAL(38,18) — order-independent —
    so centroids (and every cell assignment and probe choice derived
    from them) are bit-stable across rebuilds, partitionings, and
    parallelism; a k-means index rebuild can never flip a
    recall-contingent driver row. (Previously ``F.avg`` on doubles
    merged partials in shuffle-arrival order — ulp-level wobble.) The
    18-fractional-digit quantization of the input doubles is
    irrelevant to clustering quality."""
    cents = _unit_rows(_ivf_centroids(embeddings, n_cells, id_col, vec_col))
    for _ in range(n_iter):
        assigned = ivf_assign(embeddings, cents, vec_col)
        rows = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.avg(F.col("val").cast("decimal(38,18)"))
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        new = cents.copy()
        for r in rows:
            new[r["cell"]][r["pos"]] = r["m"]
        cents = _unit_rows(new)
    return cents


def ivf_assign_per_label(
    embeddings: DataFrame,
    cents_by_label: dict[int, np.ndarray],
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Add a ``cell`` column = argmax-dot against the row's OWN label's
    centroid set (ties → lowest cell id). One CASE chain over labels;
    CaseWhen evaluates only the matched branch, so each row pays
    n_cells dot folds regardless of how many labels exist. Rows whose
    label has no centroid set (unseen label) get cell NULL — callers
    partition by (label, cell), so they surface as an explicit NULL
    partition rather than silently joining a wrong cell."""
    expr = None
    for lbl in sorted(cents_by_label):
        cell = _argmax_cell(F.col(vec_col), cents_by_label[lbl]).cast("int")
        cond = F.col(label_col) == int(lbl)
        expr = F.when(cond, cell) if expr is None else expr.when(cond, cell)
    return embeddings.withColumn("cell", expr)


def kmeans_centroids_per_label(
    embeddings: DataFrame,
    n_cells: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> dict[int, np.ndarray]:
    """Per-label spherical k-means WITHOUT a per-label job loop: every
    Lloyd iteration is ONE pass over the corpus for all labels at once.
    Init = first-n_cells-by-id within each label (one windowed top-N —
    a single shuffle of n_labels·n_cells skinny rows); assignment =
    ``ivf_assign_per_label`` (codegen'd projection); update = a single
    groupBy(label, cell, pos).avg — map-side-combined partials, after
    which only n_labels·k·dim doubles reach the driver (10·16·64 here;
    grows with the model, never the corpus — the same driver-side
    reduction shape as kmeans_centroids/MLlib). Empty cells keep their
    previous centroid; means re-normalized so max-dot == max-cosine.
    The mean sums in exact DECIMAL like kmeans_centroids, so rebuilds
    are bit-deterministic."""
    from pyspark.sql import Window

    w = Window.partitionBy(label_col).orderBy(id_col)
    seed_rows = (
        embeddings.select(label_col, id_col, vec_col)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_cells)
        .collect()
    )
    by_label: dict[int, list] = {}
    for r in sorted(seed_rows, key=lambda r: (r[label_col], r[id_col])):
        by_label.setdefault(int(r[label_col]), []).append(
            [float(x) for x in r[vec_col]]
        )
    cents_by_label = {
        lbl: _unit_rows(np.array(vs)) for lbl, vs in by_label.items()
    }
    for _ in range(n_iter):
        assigned = ivf_assign_per_label(
            embeddings, cents_by_label, vec_col, label_col
        )
        rows = (
            assigned.select(
                label_col, "cell", F.posexplode(F.col(vec_col)).alias("pos", "val")
            )
            .groupBy(label_col, "cell", "pos")
            .agg(
                F.avg(F.col("val").cast("decimal(38,18)"))
                .cast("double")
                .alias("m")
            )
            .collect()
        )
        new = {l: c.copy() for l, c in cents_by_label.items()}
        for r in rows:
            new[int(r[label_col])][r["cell"]][r["pos"]] = r["m"]
        cents_by_label = {l: _unit_rows(c) for l, c in new.items()}
    return cents_by_label


def write_ivf_index_labeled(
    spark,
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> dict[int, np.ndarray]:
    """FILTER-PARTITIONED IVF index (the production filtered-ANN form
    the r07 docstring names): cluster each label's vectors with their
    OWN centroid set and write the corpus partitioned by
    ``(label, cell)``. A filtered probe then prunes on BOTH partition
    columns — the metadata predicate reads only its labels' directories
    (exact by construction, zero recall cost) and the cell probe keeps
    its full n_probe/n_cells pruning WITHIN them, instead of the
    unpartitioned path's doubled probe width against cells diluted by
    every other label. Returns the per-label centroid dict (the tiny
    query-time sidecar)."""
    cbl = kmeans_centroids_per_label(
        embeddings, n_cells, n_iter, id_col, vec_col, label_col
    )
    (
        ivf_assign_per_label(embeddings, cbl, vec_col, label_col)
        .write.mode("overwrite")
        .partitionBy(label_col, "cell")
        .parquet(path)
    )
    return cbl


def write_ivf_index(
    spark,
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """INGEST-TIME IVF index materialization (reference builds its
    persistent HNSW index at ingest, db_service.py:193-199; the Spark
    analogue is a cell-partitioned table). Runs k-means, assigns every
    vector its cell, and writes the corpus partitioned by ``cell`` —
    so every later probe is physical partition pruning on the read,
    not a recompute over the corpus. Returns the centroid matrix (the
    query-time ingredient; at scale it lives next to the index as a
    tiny sidecar table). Pay the assignment scan once at ingest,
    amortize over every query."""
    cents = kmeans_centroids(embeddings, n_cells, n_iter, id_col, vec_col)
    _write_cells(embeddings, cents, path, vec_col)
    return cents


def _write_cells(
    embeddings: DataFrame, cents: np.ndarray, path: str, vec_col: str = "embedding"
) -> None:
    """Assign every row its cell (``ivf_assign``) and write the frame
    partitioned by ``cell`` — the IVF index layout."""
    (
        ivf_assign(embeddings, cents, vec_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )


def ivf_pruned_topk(
    spark,
    index_path: str,
    centroids: np.ndarray,
    query_vec: list[float],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k over the MATERIALIZED index: probe = equi-filter on
    the ``cell`` partition column → the parquet scan's PartitionFilters
    skip (n_cells - n_probe)/n_cells of the files before any cosine is
    evaluated (asserted by plan probe in tests/test_ann.py). This is
    the scale path ``ivf_topk`` only simulated."""
    probe = _probe_cells(centroids, query_vec, n_probe)
    idx = read_parquet(spark, index_path)
    return knn(idx, query_vec, k, id_col, vec_col, where=F.col("cell").isin(probe))


def write_lsh_index(
    spark,
    embeddings: DataFrame,
    path: str,
    dim: int,
    n_tables: int = 8,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """INGEST-TIME hyperplane-LSH index: skinny (id, t, bucket) rows —
    no vectors, so the index is O(T·n) longs, not T copies of the
    corpus — written partitioned by (t, bucket). A probe reads exactly
    T partition directories (one bucket per table); everything else is
    physically skipped. T·2^b directories total (128 here); at 100 TB
    size b so each bucket partition lands in the 128-512 MB file-size
    sweet spot."""
    planes = _hyperplanes(n_tables, n_planes, dim)
    sigs = _signature_rows(embeddings, planes, id_col, vec_col)
    sigs.write.mode("overwrite").partitionBy("t", "bucket").parquet(path)


def lsh_pruned_topk(
    spark,
    index_path: str,
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 5,
    n_tables: int = 8,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    cand_ids = idx.filter(probe).select(F.col("id").alias(id_col)).distinct()
    cand = embeddings.join(F.broadcast(cand_ids), id_col)
    return knn(cand, query_vec, k, id_col, vec_col)


def hyperplane_dedup_pairs(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.3,
    n_tables: int = 8,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    sigs = _signature_rows(embeddings, _hyperplanes(n_tables, n_planes, dim), id_col, vec_col)
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
    ea = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("ea"))
    eb = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("eb"))
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
    from sales_agent_graphdb_spark.operators.similarity import duckdb_cosine_sql

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


def duckdb_ivf_topk_sql(
    k: int = 5, n_cells: int = 16, n_probe: int = 4, query_id: int = 0
) -> str:
    """SQL mirror of ivf_topk (and of ivf_pruned_topk over an index
    written with the first-N-by-id centroids) for the query vector of
    id ``query_id``. Centroids come from the same first-N-by-id rows;
    every dot is the same fold as ``_fold_dot``; probe and assignment
    ties break to the lowest cell id via ORDER BY (dot DESC, cid)."""
    from sales_agent_graphdb_spark.operators.similarity import duckdb_cosine_sql

    cos = duckdb_cosine_sql("a.embedding", "q.qv")
    return f"""
    WITH cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_cells})),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
    probe AS (
      SELECT cid FROM cents, q
      ORDER BY {duckdb_fold_dot_sql("cv", "qv")} DESC, cid LIMIT {n_probe}),
    assign AS (
      SELECT e.vec_id, e.embedding,
             (SELECT c.cid FROM cents c
              ORDER BY {duckdb_fold_dot_sql("c.cv", "e.embedding")} DESC, c.cid LIMIT 1) AS cell
      FROM embeddings e)
    SELECT a.vec_id, {cos} AS sim
    FROM assign a CROSS JOIN q
    WHERE a.cell IN (SELECT cid FROM probe)
    ORDER BY sim DESC, a.vec_id LIMIT {k}
    """


def semantic_cell_dedup(
    embeddings: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    from sales_agent_graphdb_spark.operators.similarity import norm as _norm

    cents = _ivf_centroids(embeddings, n_cells, id_col, vec_col)
    # Precompute each row's L2 norm BEFORE the pairwise join: cosine =
    # dot/(norm_a*norm_b) evaluated per pair would fold each vector's
    # norm |cell| times; hoisting it leaves one dot-fold per pair (~3x
    # less expression work, measured ~2x wall at sf0.1). Bit-exact
    # unchanged: same fold over the same vector yields the same double
    # wherever it is computed.
    assigned = ivf_assign(embeddings, cents, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(F.col(vec_col)).alias("nrm"),
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
    """Full SQL mirror of semantic_cell_dedup: same first-N-by-id
    centroids, same argmax-fold-dot assignment (ties → lowest cell via
    ORDER BY dot DESC, cid — the duckdb_ivf_topk_sql technique), same
    within-cell cosine and smallest-keeper decision, all fold-order
    arithmetic so the driver hash-checks the whole pipeline."""
    from sales_agent_graphdb_spark.operators.similarity import duckdb_cosine_sql

    cos = duckdb_cosine_sql("a.v", "b.v")
    return f"""
    WITH cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {n_cells})),
    assign AS (
      SELECT e.vec_id AS id, e.embedding AS v,
             (SELECT c.cid FROM cents c
              ORDER BY {duckdb_fold_dot_sql("c.cv", "e.embedding")} DESC, c.cid
              LIMIT 1) AS cell
      FROM embeddings e),
    hits AS (
      SELECT a.cell, a.id AS id_a, b.id AS id_b, {cos} AS cos_sim
      FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
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
    from sales_agent_graphdb_spark.operators.similarity import duckdb_cosine_sql

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


def _sub(vec: Column, m: int, d_sub: int) -> Column:
    return F.slice(vec, m * d_sub + 1, d_sub)


def pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    m_sub: int = PQ_M,
    k: int = PQ_K,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_sample: int = 2048,
) -> np.ndarray:
    """Per-subspace Lloyd k-means over a BOUNDED DETERMINISTIC SAMPLE
    (VERDICT r08 #2): the first ``n_sample`` vectors by id — Spark
    plans ``orderBy(id).limit(n)`` as TakeOrderedAndProject (map-side
    partial top-n, no global sort), so at 100 TB the driver collects
    n·dim doubles (≈1 MB at the default) and the FULL corpus pays
    only the single pq_encode pass. Training runs driver-side in
    numpy on the collected sample — the same bounded-frame discipline
    as vec_mmr_rerank's 380 doubles — which also removes the r08
    scale-killer: the old in-plan Lloyd rebuilt the 128-way unrolled
    encode expression per iteration (12.9 s of pure codegen at
    sf0.1). Determinism: fixed first-k-by-id init, fixed iteration
    count, single-threaded float64 updates in sample order — rebuilds
    are bit-identical (pinned by tests/test_round8_ops.py).
    Assignment matches pq_encode exactly: argmax of (dot − ‖c‖²/2),
    ties to the LOWEST code; codes with no members keep their previous
    centroid."""
    d_sub = dim // m_sub
    sample = (
        embeddings.orderBy(id_col).select(vec_col).limit(max(n_sample, k)).collect()
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


def pq_encode(
    embeddings: DataFrame, books: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Add code_m columns: per subspace, the index of the centroid with
    min Euclidean distance (== max (dot − ‖c‖²/2)); ties → lowest code.
    One codegen'd projection (M·K fused folds per row). At 100 TB this
    is the single encode pass whose output (M bytes/vector) is what
    the ANN tier stores and scans; a Pandas-UDF batch encode is the
    drop-in when M·K grows past comfortable codegen width."""
    m_sub, k, d_sub = books.shape
    out = embeddings
    v = F.col(vec_col)
    for m in range(m_sub):
        sv = _sub(v, m, d_sub)
        scores = F.array(
            *[
                F.struct(
                    (
                        dot(sv, lit_vector(books[m][c]))
                        - float(books[m][c] @ books[m][c]) / 2.0
                    ).alias("s"),
                    F.lit(-c).alias("negc"),
                )
                for c in range(k)
            ]
        )
        out = out.withColumn(f"code_{m}", -F.array_max(scores)["negc"])
    return out


def pq_encode_arrow(
    embeddings: DataFrame, books: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Arrow-batched twin of pq_encode — the drop-in its docstring
    names for when the M·K unrolled expression outgrows comfortable
    codegen width: the JVM form is ~M·K·d_sub expression nodes
    (1024 at 8×16×8), which costs ~8 s of one-time Janino compile and
    several seconds of py4j plan construction PER CALL (measured r09,
    the bulk of ann_pq_adc_topk's 14 s bench line), while this form is
    one mapInPandas pass doing the same argmax(dot − ‖c‖²/2) in numpy
    (ties → lowest code via np.argmax's first-max, identical rule).
    The materialized-index writer keeps the JVM form — encode there is
    ingest-time and amortized; THIS form serves query-time encodes.
    """
    m_sub, k, d_sub = books.shape
    cbs = [np.asarray(books[m], dtype=np.float64) for m in range(m_sub)]
    half = [0.5 * np.einsum("ij,ij->i", c, c) for c in cbs]
    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in embeddings.schema.fields]
        + [f"code_{m} int" for m in range(m_sub)]
    )
    cols = [f.name for f in embeddings.schema.fields]
    vpos = cols.index(vec_col)

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
    spark,
    embeddings: DataFrame,
    path: str,
    n_cells: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[np.ndarray, np.ndarray]:
    """INGEST-TIME IVF-PQ index: one table, cell-PARTITIONED (probes
    are physical partition pruning) with the M PQ code columns stored
    NEXT TO the full vector — candidate generation reads only
    (vec_id, code_*) via column pruning (M bytes of codes instead of
    dim floats), the exact rerank reads the vector column for the C
    survivors only. Returns (centroids, codebooks) — the query-time
    sidecar. Both trainings are deterministic (cells: DECIMAL-exact
    distributed Lloyd; PQ codebooks: driver-side numpy Lloyd on the
    first-n-by-id sample), so the index and every verdict derived
    from it are bit-stable across rebuilds."""
    cents = kmeans_centroids(embeddings, n_cells, id_col=id_col, vec_col=vec_col)
    books = pq_codebooks(embeddings, dim=dim, id_col=id_col, vec_col=vec_col)
    enc = pq_encode(ivf_assign(embeddings, cents, vec_col), books, vec_col)
    enc.write.mode("overwrite").partitionBy("cell").parquet(path)
    return cents, books
