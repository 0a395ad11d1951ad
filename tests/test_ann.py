"""ANN recall pinned against exact brute-force top-k."""

from __future__ import annotations

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.operators import ann, similarity
from sales_agent_graphdb_spark.queries.vector import _query_vec

SF = "/root/testdata/sf0.001"


def _exact_topk(spark, k):
    emb = catalog.load_table(spark, SF, "embeddings")
    return {r.vec_id for r in similarity.knn(emb, _query_vec(spark, SF), k=k).collect()}


def test_lsh_recall(spark):
    emb = catalog.load_table(spark, SF, "embeddings")
    got = {
        r.vec_id
        for r in ann.hyperplane_lsh_topk(emb, _query_vec(spark, SF), k=10).collect()
    }
    exact = _exact_topk(spark, 10)
    # Random 64-dim embeddings are LSH's worst case; still the query's
    # own vector (sim=1.0) and near neighbors must collide.
    assert 0 in got, "query vector must collide with its own buckets"
    assert len(got & exact) / len(exact) >= 0.3
    assert len(got) <= 10


def test_ivf_recall(spark):
    emb = catalog.load_table(spark, SF, "embeddings")
    got = {
        r.vec_id
        for r in ann.ivf_topk(
            emb, _query_vec(spark, SF), k=10, n_cells=16, n_probe=8
        ).collect()
    }
    exact = _exact_topk(spark, 10)
    assert 0 in got
    assert len(got & exact) / len(exact) >= 0.3


def test_ivf_assign_covers_all_cells_probed(spark):
    emb = catalog.load_table(spark, SF, "embeddings")
    cents = ann._ivf_centroids(emb, 8)
    assigned = ann.ivf_assign(emb, cents)
    cells = {r.cell for r in assigned.select("cell").distinct().collect()}
    # Every cell must actually receive vectors (each centroid IS a
    # corpus vector, which assigns to itself), no row may be dropped,
    # and no cell id may fall outside range — a subset-only assert
    # would pass an all-in-one-cell regression.
    assert cells == set(range(8))
    assert assigned.count() == emb.count()


def test_kmeans_centroids_unit_norm_and_deterministic(spark):
    emb = catalog.load_table(spark, SF, "embeddings")
    c1 = ann.kmeans_centroids(emb, n_cells=8, n_iter=2)
    c2 = ann.kmeans_centroids(emb, n_cells=8, n_iter=2)
    assert c1.shape == (8, 64)
    import numpy as np

    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)
    assert np.array_equal(c1, c2)


def test_kmeans_per_label_single_label_equals_global(spark):
    """One Lloyd loop: per-label k-means over a frame whose rows all
    carry one label is the global k-means, bit for bit."""
    import numpy as np
    from pyspark.sql import functions as F

    emb = catalog.load_table(spark, SF, "embeddings").withColumn("label", F.lit(7))
    glob = ann.kmeans_centroids(emb, n_cells=8, n_iter=2)
    per = ann.kmeans_centroids_per_label(emb, n_cells=8, n_iter=2)
    assert list(per) == [7]
    assert np.array_equal(per[7], glob)


def test_write_ivf_index_partition_columns(spark, tmp_path):
    """The one IVF writer partitions by ``cell`` for a centroid matrix
    and by ``(label, cell)`` for per-label centroids, and every row
    lands in the cell ``ivf_assign`` gives it."""
    emb = catalog.load_table(spark, SF, "embeddings")
    cases = {
        "global": (ann._ivf_centroids(emb, 4), ["cell"]),
        "labeled": (ann.kmeans_centroids_per_label(emb, n_cells=4, n_iter=1), ["label", "cell"]),
    }
    for name, (cents, parts) in cases.items():
        path = tmp_path / name
        ann.write_ivf_index(emb, str(path), cents)
        top = {p.name.split("=")[0] for p in path.iterdir() if p.is_dir()}
        assert top == {parts[0]}, (name, top)
        back = spark.read.parquet(str(path))
        assert back.columns[-len(parts):] == parts, (name, back.columns)
        got = {(r.vec_id, r.cell) for r in back.select("vec_id", "cell").collect()}
        want = {
            (r.vec_id, r.cell)
            for r in ann.ivf_assign(emb, cents).select("vec_id", "cell").collect()
        }
        assert got == want and len(got) == emb.count(), name


def test_ivf_pruned_recall_and_partition_pruning(spark, tmp_path):
    emb = catalog.load_table(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_idx")
    cents = ann.kmeans_centroids(emb, n_cells=16, n_iter=3)
    ann.write_ivf_index(emb, path, cents)
    got_df = ann.ivf_pruned_topk(spark, path, cents, _query_vec(spark, SF), k=10, n_probe=8)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    # The probe must reach the scan as a partition filter (physical
    # file skipping), not a post-scan Filter over the whole index.
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1][:200]
    got = {r.vec_id for r in got_df.collect()}
    exact = _exact_topk(spark, 10)
    assert 0 in got
    assert len(got & exact) / len(exact) >= 0.3


def test_lsh_pruned_matches_querytime_variant(spark, tmp_path):
    """The materialized-index path must find the same candidates as the
    query-time path (same planes, same buckets) — so its top-k equals
    hyperplane_lsh_topk's exactly."""
    emb = catalog.load_table(spark, SF, "embeddings")
    qv = _query_vec(spark, SF)
    path = str(tmp_path / "lsh_idx")
    ann.write_lsh_index(spark, emb, path, dim=len(qv))
    pruned_df = ann.lsh_pruned_topk(spark, path, emb, qv, k=10)
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pruned = [(r.vec_id, round(r.sim, 9)) for r in pruned_df.collect()]
    querytime = [
        (r.vec_id, round(r.sim, 9))
        for r in ann.hyperplane_lsh_topk(emb, qv, k=10).collect()
    ]
    assert pruned == querytime
    assert 0 in {v for v, _ in pruned}


def test_perf_twins_bit_equal_portable(spark):
    """The r06 direct-oracle contract: each perf twin must return
    EXACTLY its hash-green portable counterpart's output. Three pairs
    are one function registered under both names; the k-means IVF
    index differs from the first-16-by-id one only in which cells get
    probed, with the exact rerank converging to the same top-5. If
    numeric drift ever breaks that equality, this test fails locally
    before the driver ever records a red row."""
    from sales_agent_graphdb_spark.registry import all_queries

    specs = all_queries()
    for perf, portable in [
        ("ann_lsh_topk", "ann_lsh_topk_portable"),
        ("ann_ivf_topk", "ann_ivf_topk_portable"),
        ("ann_lsh_pruned_topk", "ann_lsh_pruned_portable"),
    ]:
        assert specs[perf].fn is specs[portable].fn, (perf, portable)
    p = sorted(tuple(r) for r in specs["ann_ivf_pruned_topk"].fn(spark, SF).collect())
    q = sorted(tuple(r) for r in specs["ann_ivf_pruned_portable"].fn(spark, SF).collect())
    assert p == q, f"ann_ivf_pruned_topk != ann_ivf_pruned_portable: {p} vs {q}"


def test_ivf_pruned_fresh_rebuild_still_equals_portable(spark, monkeypatch):
    """Rebuild the k-means IVF index from scratch (ignoring the stamped
    on-disk one) and re-check the perf twin's output still bit-equals
    the portable twin — guarding the direct oracle against Lloyd
    float-summation jitter across container rebuilds."""
    import shutil

    from sales_agent_graphdb_spark.queries import ann_search
    from sales_agent_graphdb_spark.registry import all_queries

    specs = all_queries()
    fresh_root = ann_search._INDEX_ROOT.parent / "ann_index_rebuild_test"
    shutil.rmtree(fresh_root, ignore_errors=True)
    monkeypatch.setattr(ann_search, "_INDEX_ROOT", fresh_root)
    try:
        p = sorted(
            tuple(r) for r in specs["ann_ivf_pruned_topk"].fn(spark, SF).collect()
        )
        q = sorted(
            tuple(r) for r in specs["ann_ivf_pruned_portable"].fn(spark, SF).collect()
        )
        assert p == q
    finally:
        shutil.rmtree(fresh_root, ignore_errors=True)


def test_filtered_ivf_verdict_and_recall(spark):
    """ann_filtered_ivf_topk — (a) the in-plan exact side must equal
    the standalone exact baseline's ids (ann_filtered_exact_topk), (b)
    the pruned path's recall verdict must hold on a fresh index, and
    (c) the recall floor must be non-vacuous: the pruned path really
    reads fewer cells (its plan carries the cell PartitionFilters)."""
    from sales_agent_graphdb_spark.queries.ann_search import ann_filtered_ivf_topk
    from sales_agent_graphdb_spark.queries.vector import ann_filtered_exact_topk

    row = ann_filtered_ivf_topk(spark, SF).collect()[0]
    assert row.recall_ok, row
    base_ids = sorted(
        r.vec_id for r in ann_filtered_exact_topk(spark, SF).collect()
    )
    # exact_ids is a comma-joined string since r08 (driver's pandas
    # canonicalizer cannot hash array cells).
    got_ids = sorted(int(x) for x in row.exact_ids.split(","))
    assert got_ids == base_ids, (row.exact_ids, base_ids)


def test_filtered_partitioned_index_prunes_both_columns(spark):
    """ann_filtered_partitioned_topk — (a) exact side equals the
    standalone filtered baseline per-row, (b) the recall verdict holds,
    (c) the PRUNED probe's scan carries PartitionFilters on BOTH
    partition columns and physically reads at most 4 cells per label
    (< the unpartitioned filtered path's 8), (d) the EXACT side's scan
    prunes on label alone — the filtered population arrives without a
    row filter."""
    from sales_agent_graphdb_spark.operators.similarity import cosine, lit_vector
    from sales_agent_graphdb_spark.queries.ann_search import (
        _index_path,
        ann_filtered_partitioned_topk,
    )
    from sales_agent_graphdb_spark.queries.vector import (
        _FILTER_LABELS,
        ann_filtered_exact_topk,
    )
    from pyspark.sql import functions as F

    rows = ann_filtered_partitioned_topk(spark, SF).collect()
    assert len(rows) == 5
    assert all(r.recall_ok for r in rows)
    base = {
        (r.vec_id, r.label, round(r.sim, 9))
        for r in ann_filtered_exact_topk(spark, SF).collect()
    }
    got = {(r.vec_id, int(r.label), round(r.sim, 9)) for r in rows}
    assert got == base, (got, base)

    # Rebuild the pruned read shape the query uses and probe its plan +
    # the actual partitions it touches.
    import json as _json
    from pathlib import Path

    path = _index_path(SF, "ivf_labeled")
    import numpy as np

    cbl = {
        int(k): np.asarray(v)
        for k, v in _json.loads(
            (Path(path) / "_SIDECAR.json").read_text()
        ).items()
    }
    qv = _query_vec(spark, SF)
    q = np.asarray(qv)
    idx = spark.read.parquet(path)
    pred = None
    for lbl in _FILTER_LABELS:
        probe = [int(c) for c in np.argsort(-(cbl[lbl] @ q))[:4]]
        p = (F.col("label") == lbl) & F.col("cell").isin(probe)
        pred = p if pred is None else (pred | p)
    pruned = idx.filter(pred)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf = plan.split("PartitionFilters", 1)[1][:400]
    assert "label" in pf and "cell" in pf, pf
    touched = pruned.select("label", "cell").distinct().collect()
    per_label: dict[int, set] = {}
    for r in touched:
        per_label.setdefault(int(r.label), set()).add(int(r.cell))
    assert set(per_label) <= set(_FILTER_LABELS)
    for lbl, cells in per_label.items():
        assert len(cells) <= 4 < 8, (lbl, cells)

    exact_scan = idx.filter(F.col("label").isin(*_FILTER_LABELS))
    eplan = exact_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in eplan
    assert "label" in eplan.split("PartitionFilters", 1)[1][:400]
