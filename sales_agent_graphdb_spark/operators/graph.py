"""Graph operators over vertex/edge DataFrames (SURVEY.md §1.1, §2.10).

The reference's property graph is (:Product)-[:IN_CATEGORY]->(:Category)
(neo4j_service.py:64-66). GraphFrames-style convention: analytics run
on plain DataFrames — vertices(id), edges(src, dst) — so everything is
joins + aggregations that Catalyst can optimize and AQE can re-plan.

Every iterative algorithm is a step function run by one of two round
drivers, which own the per-round lineage cut, the one driver action
per round and the round guard (Pregelix's shared superstep driver):

- ``superstep`` — state-to-state rounds with an optional convergence
  test (connected components, PageRank, and the label propagation,
  k-core and SSSP queries in queries/graphq.py);
- ``bfs_levels`` — level-synchronous BFS that anti-joins each new
  level against the settled ones (``bfs_distances`` and the all-pairs
  BFS queries).

Connected components first contracts the leaves (vertices with one
distinct neighbour), which halt at round 0 as in Pregelix's shrinking
active graph. A core of at most ``_DRIVER_CORE`` vertices and edges is
then solved by union-find on the driver with no round at all; a larger
one runs min-label propagation with a pointer-doubling shortcut
(component ← label of my component vertex each round) on ``superstep``,
so labels travel 2^k hops after k rounds and a diameter-d core
converges in O(log d) rounds rather than O(d).
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterable, Optional, Sequence, Tuple

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.session import materialize


def superstep(
    state: Optional[DataFrame],
    step: Callable[[Optional[DataFrame]], DataFrame],
    *,
    max_iter: int,
    converged: Optional[Callable[[DataFrame], bool]] = None,
) -> Tuple[DataFrame, int]:
    """Run ``state = step(state)`` for at most ``max_iter`` rounds and
    return ``(state, rounds_run)``.

    Each round's result is cut from its lineage with a lazy
    ``materialize`` (see its race rule), so a round pays at most one
    driver action, and that action is the sequential first consumer:

    - ``converged(state)``, called on every round's checkpointed result;
      it must be a full action over every partition (a count or an
      aggregate collect — never a limit, which could leave partitions
      for a later reader to recompute). The loop stops when it returns
      True; if it still returns False after ``max_iter`` rounds, the
      state has not converged and the loop raises ``RuntimeError``.
    - or, with no ``converged``, the one action ``step`` already takes
      on its input at the start of the next round (PageRank's
      dangling-mass collect), or none at all (fixed-round steps whose
      chain is materialized by the caller's action).

    Return contract: the returned frame is lazily checkpointed, and
    unless ``converged`` ran on it, it is not materialized yet; its
    first consumer must be one sequential action (the query's write or
    a collect), not several concurrent ones.
    """
    for rounds in range(1, max_iter + 1):
        state = materialize(step(state), eager=False)
        if converged is not None and converged(state):
            return state, rounds
    if converged is not None:
        raise RuntimeError(f"superstep did not converge within max_iter={max_iter} rounds")
    return state, max_iter


def bfs_levels(
    seed: DataFrame,
    expand: Callable[[DataFrame, int], DataFrame],
    *,
    keys: Sequence[str],
    depths: Iterable[int],
) -> DataFrame:
    """Level-synchronous BFS; returns the union of ``seed`` (checkpointed
    eagerly here) and every level reached.

    ``expand(frontier, depth)`` returns the candidate rows one hop past
    ``frontier``, stamped with ``depth``. Candidates are anti-joined on
    ``keys`` against every settled level, so a level holds exactly the
    keys first reached at that depth, and the next frontier is that
    level. Settled levels stay a list of frames unioned lazily (no
    per-level rewrite of the growing visited set). Each level is lazily
    checkpointed and materialized by a full ``count()`` — the sequential
    first consumer of ``materialize``'s race rule, one driver action per
    level. The loop stops at an empty level or after the last of
    ``depths``.
    """
    # Eager: measured faster than a bare seed plan (graph_shortest_paths, sf0.1).
    seed = materialize(seed, eager=True)
    levels = [seed]
    frontier = seed
    for depth in depths:
        settled = reduce(DataFrame.unionByName, [lv.select(*keys) for lv in levels])
        nxt = materialize(
            expand(frontier, depth).join(settled, list(keys), "left_anti"), eager=False
        )
        if nxt.count() == 0:
            break
        levels.append(nxt)
        frontier = nxt
    return reduce(DataFrame.unionByName, levels)


def symmetrize(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Both directions of every edge as (src, dst), from ONE scan of
    ``edges`` (explode of the forward and reversed pair, not a
    self-union)."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
                F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
            )
        ).alias("p")
    ).select("p.src", "p.dst")


def co_occurrence_pairs(facts: DataFrame, group: str, item: str) -> DataFrame:
    """(lo, hi, w): every pair of ``item``s lo < hi that share a
    ``group`` value, once, with w = the number of matching fact-row
    pairs. Over distinct (group, item) rows, w is the number of groups
    holding both items. The co-purchase pairs when facts = lineitem,
    group = order, item = part; the weighted brand projection when
    facts = the (okey, brand) layout.

    One self-join on ``group`` (fan-out Σ_group k², k = items per
    group — bounded by basket width, never |items|²; a fact frame
    bucketed on ``group`` joins with no Exchange) and one aggregate on
    the (lo, hi) key, map-side combinable. Measured faster than a
    per-group collect_set + array-HOF pair expansion
    (sql_api_recursive_reachability at sf0.1, 4 vCPUs: median 3.6 s vs
    5.2 s warm)."""
    a = facts.select(F.col(group), F.col(item).alias("lo"))
    b = facts.select(F.col(group), F.col(item).alias("hi"))
    return (
        a.join(b, group)
        .filter(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def co_occurrence_edges(
    facts: DataFrame, group: str, item: str
) -> DataFrame:
    """Symmetric, lazily checkpointed (src, dst) edges between distinct
    ``item``s that share a ``group`` value: ``co_occurrence_pairs``
    without its weight (the optimizer prunes the count, leaving the
    DISTINCT the oracles' `pairs` CTE states), in both directions."""
    pairs = co_occurrence_pairs(facts, group, item).select("lo", "hi")
    return materialize(symmetrize(pairs, "lo", "hi"), eager=False)


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Degree per vertex (both directions)."""
    out_deg = edges.groupBy(F.col(src).alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_deg = edges.groupBy(F.col(dst).alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_deg.join(in_deg, "id", "full_outer")
        .select(
            "id",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


# A core of at most this many vertices and at most this many edges is
# solved on the driver (two bounded collects plus union-find); a larger
# one runs the superstep loop. Sized so that the driver finish costs no
# more than one superstep round on the same core. Measured on random
# long-id cores (about 2 edges per vertex), local[4], 4 vCPUs, warm,
# driver finish vs the median round: 30k edges 0.40-0.51 s vs 0.43 s;
# 50k 0.41 s vs 0.41 s; 100k 0.59-0.70 s vs 0.46 s; 200k 0.97 s vs
# 0.57 s.
_DRIVER_CORE = 50_000


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Min-label connected components: component(v) = the least vertex
    id reachable from v. Returns (id, component) for every non-null
    endpoint. Null endpoints are not vertices: an endpoint whose only
    partners are null is a singleton.

    Three steps: contract the leaves, solve the core, expand.

    1. One grouped pass over the symmetric edges gives every vertex its
       seed label least(id, min neighbour), and marks it a leaf when it
       has exactly one distinct neighbour, its root (a vertex whose only
       edges are self-loops is its own root). A leaf lies on no path
       between two other vertices and its id is already in its root's
       seed, so the core — the non-leaf vertices and the edges between
       them — has the same partition and min labels as the whole graph,
       seeds standing in for the leaves.
    2. A core of at most ``_DRIVER_CORE`` vertices and edges is
       collected (the vertices with their seeds, then the edges between
       them, found against a broadcast of the vertices) and solved by
       union-find on the driver. A larger core runs min-label
       propagation with pointer doubling on ``superstep`` (one join and
       one groupBy per round); it raises ``RuntimeError`` if labels
       still change after ``max_iter`` rounds.
    3. One join gives every vertex the core label of its root, or its
       own seed when the root is a leaf (a leaf-leaf pair or a vertex
       with only self-loops).
    """
    # A null partner becomes a self-loop, which connects nothing. Lazy:
    # vtx's eager checkpoint below is the one full first consumer.
    sym = materialize(
        symmetrize(edges, src, dst)
        .filter(F.col("src").isNotNull())
        .select(F.col("src").alias("a"), F.coalesce("dst", "src").alias("b")),
        eager=False,
    )
    # Eager: the bounded collect below must not be its first consumer.
    vtx = materialize(
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
        .select(
            "id",
            F.least("id", "lo").alias("seed"),
            F.when(F.col("lo") == F.col("hi"), F.col("lo"))
            .otherwise(F.col("id"))
            .alias("root"),
            (F.col("lo") != F.col("hi")).alias("in_core"),
        ),
        eager=True,
    )
    seeds = vtx.filter("in_core").select("id", "seed")
    # Arrow collects: one job each and no per-row Python objects.
    core_v = seeds.limit(_DRIVER_CORE + 1).toArrow()
    if core_v.num_rows == 0:
        return vtx.select("id", F.col("seed").alias("component"))
    small = core_v.num_rows <= _DRIVER_CORE
    ids = F.broadcast(seeds.select("id")) if small else seeds.select("id")
    core_edges = (
        sym.filter(F.col("a") < F.col("b"))
        .join(ids.toDF("a"), "a", "left_semi")
        .join(ids.toDF("b"), "b", "left_semi")
    )
    core_e = core_edges.limit(_DRIVER_CORE + 1).toArrow() if small else None
    if small and core_e.num_rows <= _DRIVER_CORE:
        label = _union_find(
            zip(*core_v.to_pydict().values()), zip(*core_e.to_pydict().values())
        )
        labels = F.broadcast(
            edges.sparkSession.createDataFrame(
                pa.table({"id": list(label), "seed": list(label.values())}),
                seeds.schema,
            )
        )
    else:
        labels = _propagate(core_edges, seeds, max_iter)
    return vtx.join(labels.toDF("root", "label"), "root", "left").select(
        "id", F.coalesce("label", "seed").alias("component")
    )


def _union_find(seeds: Iterable[Tuple], edges: Iterable[Tuple]) -> dict:
    """{vertex: least seed in its component} for the (vertex, seed)
    pairs ``seeds`` joined by the (a, b) pairs ``edges``. Each union
    hangs the root with the larger seed under the other, so a root's
    seed is its component's least. Ids are longs or strings; Python
    orders both as Spark does (UTF-8 byte order is code-point order)."""
    low = dict(seeds)
    parent = {v: v for v in low}

    def find(x):
        while parent[x] != x:
            parent[x] = x = parent[parent[x]]  # path halving
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if low[rb] < low[ra]:
                ra, rb = rb, ra
            parent[rb] = ra
    return {v: low[find(v)] for v in parent}


def _propagate(core: DataFrame, seeds: DataFrame, max_iter: int) -> DataFrame:
    """(id, component) of every vertex in ``seeds`` (id, seed) by
    min-label propagation over the undirected ``core`` edges (a, b)
    on ``superstep``. A label is the pair (seed, carrier): the least
    seed seen and a core vertex whose own seed it is. A seed may be a
    contracted leaf's id, which has no label to point at; the carrier
    always has one, so pointer doubling follows the carrier."""
    # Every round joins the symmetric core edges: checkpoint them once.
    sym = materialize(symmetrize(core, "a", "b").toDF("a", "b"), eager=True)

    def step(labels: DataFrame) -> DataFrame:
        # Neighbor-min propagation and pointer doubling fused into one
        # join: the label pointers (v → carrier of component(v)) ride
        # the edge list, so min(component(b)) over the augmented
        # neighborhood covers both the neighbor minimum and
        # component(carrier(v)). Labels are monotone non-increasing
        # with component(x) <= (seed(x), x), so the min never exceeds
        # the old label and every vertex appears through its own
        # pointer edge. A tagged SELF edge (a=id, b=id) carries the old
        # component(id) through the same grouped pass for the changed
        # flag, without a join back to the old labels; it adds
        # component(id) to the min-set, a no-op.
        aug = (
            sym.withColumn("self", F.lit(False))
            .unionByName(
                labels.select(
                    F.col("id").alias("a"), F.col("component.carrier").alias("b")
                ).withColumn("self", F.lit(False))
            )
            .unionByName(
                labels.select(
                    F.col("id").alias("a"), F.col("id").alias("b")
                ).withColumn("self", F.lit(True))
            )
        )
        target = labels.select(
            F.col("id").alias("bid"), F.col("component").alias("bcomp")
        )
        return (
            aug.join(target, F.col("b") == F.col("bid"))
            .groupBy(F.col("a").alias("id"))
            .agg(
                F.min("bcomp").alias("component"),
                F.min(F.when(F.col("self"), F.col("bcomp"))).alias("oldc"),
            )
            .select(
                "id",
                "component",
                (F.col("component") < F.col("oldc")).alias("chg"),
            )
        )

    labels, _ = superstep(
        seeds.select(
            "id", F.struct("seed", F.col("id").alias("carrier")).alias("component")
        ),
        step,
        max_iter=max_iter,
        converged=lambda s: s.filter("chg").count() == 0,
    )
    return labels.select("id", F.col("component.seed").alias("component"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
) -> DataFrame:
    """Fixed-iteration PageRank on the directed edge list. Returns
    (id, rank); Σ rank ≈ N. Dangling mass is redistributed uniformly.

    Runs on ``superstep``: each iteration's one driver action is the
    dangling-mass collect over the previous iteration's ranks. The
    result is the last iteration's lazily checkpointed frame, not yet
    materialized — see ``superstep``'s return contract: consume it with
    one sequential action first."""
    # count() is the one sequential first consumer.
    verts = materialize(
        edges.select(F.col(src).alias("id"))
        .unionByName(edges.select(F.col(dst).alias("id")))
        .distinct(),
        eager=False,
    )
    n = verts.count()
    # Probed twice per iteration (contrib join + dangling anti-join).
    out_deg = materialize(
        edges.groupBy(F.col(src).alias("id")).agg(F.count(F.lit(1)).alias("deg")),
        eager=True,
    )

    def step(ranks: DataFrame) -> DataFrame:
        dangling = (
            ranks.join(out_deg.select("id"), "id", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
            .collect()[0][0]
        )
        contrib = (
            edges.join(ranks, edges[src] == ranks.id)
            .join(out_deg, out_deg.id == ranks.id)
            .select(F.col(dst).alias("id"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("contrib"))
        )
        return verts.join(contrib, "id", "left").select(
            "id",
            (
                F.lit(1 - damping)
                + F.lit(damping)
                * (F.coalesce("contrib", F.lit(0.0)) + F.lit(dangling / n))
            ).alias("rank"),
        )

    ranks, _ = superstep(verts.withColumn("rank", F.lit(1.0)), step, max_iter=n_iter)
    return ranks


def triangle_count(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex triangle counts on an undirected graph. Returns
    (id, n_triangles) for vertices in >= 1 triangle.

    The classic two-join scale shape (node-iterator with canonical
    orientation): canonicalize each undirected edge to (lo, hi) and
    dedup; wedges = edges(a,b) ⋈ edges(b,c) on the middle vertex with
    a < b < c, so every candidate triangle is generated EXACTLY once;
    closing join probes the (a,c) edge. Two equi-join shuffles, no
    wedge double-counting, and the canonical a<b<c orientation is also
    what bounds the wedge fan-out by min-degree at 100 TB (each wedge
    is rooted at its middle vertex; skew-salting applies if a hub
    vertex dominates). Each closed triangle (a,b,c) is then credited
    to all three vertices via one explode."""
    canon = materialize(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") != F.col("hi"))
        .distinct(),
        eager=False,
    )
    e1 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    wedges = e1.join(e2, "b").select("a", "b", "c")
    close = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tris = wedges.join(close, ["a", "c"])
    return (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("b"), F.col("c"))).alias("id")
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def bfs_distances(
    edges: DataFrame,
    source,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 10,
) -> DataFrame:
    """Unweighted shortest-path distances from ``source`` over the
    undirected graph, on ``bfs_levels``: one frontier join + one
    anti-join per level. Returns (id, distance) for every vertex within
    ``max_depth`` hops.

    Scale shape: each level shuffles only the CURRENT frontier against
    the edge list (|frontier|·avg-degree), so per-level cost tracks the
    expanding wavefront, not the whole graph. Converges early when a
    frontier empties."""
    sym = materialize(symmetrize(edges, src, dst), eager=True)

    def expand(frontier: DataFrame, depth: int) -> DataFrame:
        return (
            sym.join(frontier, sym.src == frontier.id)
            .select(F.col("dst").alias("id"))
            .distinct()
            .withColumn("distance", F.lit(depth))
        )

    seed = edges.sparkSession.createDataFrame([(source, 0)], ["id", "distance"])
    return bfs_levels(seed, expand, keys=["id"], depths=range(1, max_depth + 1))
