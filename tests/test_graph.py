"""Graph-analytics invariants: PageRank mass conservation, CC label
correctness on a known topology, degree totals."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.operators import graph

SF = "/root/testdata/sf0.001"


def _edges(spark):
    return catalog.in_category(spark, SF).select(
        F.col("sku").alias("src"), F.col("category_name").alias("dst")
    )


def test_pagerank_mass_and_ordering(spark):
    e = _edges(spark)
    ranks = graph.pagerank(e, n_iter=10)
    rows = ranks.collect()
    n = len(rows)
    total = sum(r["rank"] for r in rows)
    # Σ rank ≈ N (damping + dangling redistribution conserve mass)
    assert abs(total - n) / n < 0.05, (total, n)
    # every category (in-degree >> 0, out-degree 0) outranks every
    # product (in-degree 0): sinks accumulate their stars' mass
    by_id = {r.id: r["rank"] for r in rows}
    cats = {r.category_name for r in catalog.categories(spark, SF).collect()}
    prod_max = max(v for k, v in by_id.items() if k not in cats)
    cat_min = min(v for k, v in by_id.items() if k in cats)
    assert cat_min > prod_max


def test_connected_components_star_topology(spark):
    """Without bridges the product→category graph is one star per
    category: every vertex's component must equal the min label within
    its own star, and two products of different categories must land
    in different components."""
    e = _edges(spark)
    cc = graph.connected_components(e)
    comp = {r.id: r.component for r in cc.collect()}
    prods = catalog.in_category(spark, SF).collect()
    by_cat: dict[str, list[str]] = {}
    for r in prods:
        by_cat.setdefault(r.category_name, []).append(r.sku)
    for cat, skus in by_cat.items():
        expected = min([cat, *skus])  # min string label in the star
        assert comp[cat] == expected
        for s in skus:
            assert comp[s] == expected


def test_connected_components_raises_at_round_guard(spark, monkeypatch):
    """A 64-vertex path converges in a few rounds, but not in two: at
    ``max_iter=2`` labels are still changing, so the call must raise
    instead of returning split components. A zero driver bound keeps
    the path's 62-vertex core on the superstep loop."""
    monkeypatch.setattr(graph, "_DRIVER_CORE", 0)
    e = spark.createDataFrame([(i, i + 1) for i in range(63)], "src long, dst long")
    comps = {r.component for r in graph.connected_components(e).collect()}
    assert comps == {0}
    with pytest.raises(RuntimeError, match="max_iter=2"):
        graph.connected_components(e, max_iter=2)


def test_connected_components_loop_doubles_through_leaf_seeds(spark, monkeypatch):
    """A caterpillar: a 64-vertex path whose every vertex holds a
    pendant leaf with a smaller id, so every core seed is a contracted
    leaf's id. The loop (bound 0) must still double its pointers and
    converge well inside the default 20 rounds; one hop per round would
    need 63."""
    monkeypatch.setattr(graph, "_DRIVER_CORE", 0)
    path = [(1000 + i, 1001 + i) for i in range(63)]
    legs = [(1000 + i, i) for i in range(64)]
    e = spark.createDataFrame(path + legs, "src long, dst long")
    got = {r.id: r.component for r in graph.connected_components(e).collect()}
    assert got == {v: 0 for v in [*range(64), *range(1000, 1064)]}


def test_connected_components_null_endpoints(spark):
    """Null endpoints are not vertices: b's only other partner is null,
    so it keeps a's component, and no row has a null id."""
    e = spark.createDataFrame(
        [("a", "b"), ("b", None), ("c", "c"), ("d", "e")], "src string, dst string"
    )
    got = sorted(tuple(r) for r in graph.connected_components(e).collect())
    assert got == [("a", "a"), ("b", "a"), ("c", "c"), ("d", "d"), ("e", "d")]


def test_degrees_total_equals_edges(spark):
    e = _edges(spark)
    d = graph.degrees(e)
    n_edges = e.count()
    sums = d.agg(
        F.sum("out_degree").alias("o"), F.sum("in_degree").alias("i")
    ).collect()[0]
    assert sums.o == n_edges and sums.i == n_edges


def test_triangle_count_known_topologies(spark):
    """triangle_count — K4 (every vertex in C(3,2)=3 triangles), a
    square + diagonal (two triangles sharing the diagonal), and a
    triangle-free star (empty result). Edge direction, duplicates, and
    self-loops must not affect counts."""
    def tc(pairs):
        e = spark.createDataFrame(pairs, "src long, dst long")
        return {r.id: r.n_triangles for r in graph.triangle_count(e).collect()}

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert tc(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
    # reversed/duplicated edges and a self-loop collapse to the same graph
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1)]
    assert tc(noisy) == {0: 3, 1: 3, 2: 3, 3: 3}
    square_diag = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
    assert tc(square_diag) == {0: 2, 1: 1, 2: 2, 3: 1}
    star = [(0, i) for i in range(1, 6)]
    assert tc(star) == {}


def test_bfs_distances_levels_and_early_stop(spark):
    """bfs_distances — exact levels on a known graph (path + branch),
    unreachable vertices absent, max_depth honored, and the loop stops
    early on an exhausted frontier."""
    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (1, 4), (7, 8)], "src long, dst long"
    )
    got = {r.id: r.distance for r in graph.bfs_distances(e, source=0).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 4: 2, 3: 3}  # 7, 8 unreachable
    capped = {
        r.id: r.distance
        for r in graph.bfs_distances(e, source=0, max_depth=2).collect()
    }
    assert capped == {0: 0, 1: 1, 2: 2, 4: 2}
    # undirected traversal: reverse source reaches the same component
    back = {r.id: r.distance for r in graph.bfs_distances(e, source=3).collect()}
    assert back == {3: 0, 2: 1, 1: 2, 0: 3, 4: 3}
