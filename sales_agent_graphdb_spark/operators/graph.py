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

Connected components uses min-label propagation with a pointer-doubling
shortcut (component ← label of my component vertex each round), so
labels travel 2^k hops after k rounds and a diameter-d graph converges
in O(log d) rounds rather than O(d).
"""

from __future__ import annotations

from functools import reduce
from typing import Callable, Iterable, Optional, Sequence, Tuple

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


def co_occurrence_edges(
    facts: DataFrame, group: str, item: str
) -> DataFrame:
    """Symmetric, lazily checkpointed (src, dst) edges between distinct
    ``item``s that share a ``group`` value — the co-purchase graph when
    facts = lineitem, group = order, item = part. Built as the fact
    self-join on ``group`` plus DISTINCT: the form the oracles' `pairs`
    CTE states, and measured faster than a per-group collect_set +
    array-HOF pair expansion (sql_api_recursive_reachability at sf0.1,
    4 vCPUs: median 3.6 s vs 5.2 s warm)."""
    a = facts.select(F.col(group), F.col(item).alias("lo"))
    b = facts.select(F.col(group), F.col(item).alias("hi"))
    pairs = a.join(b, group).filter(F.col("lo") < F.col("hi")).select("lo", "hi").distinct()
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


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iter: int = 20
) -> DataFrame:
    """Min-label propagation: component(v) = min vertex label reachable.
    Returns (id, component). Each round is one propagation join and one
    groupBy on ``superstep``; the loop stops when no label changes and
    raises ``RuntimeError`` if labels still change after ``max_iter``
    rounds."""
    # Every round joins the symmetric edges: checkpoint them once.
    sym = materialize(symmetrize(edges, src, dst).toDF("a", "b"), eager=True)
    # Seeding labels with min(own id, neighbor ids) is round 1 for free
    # (component(b) = b initially), at the cost of the plain init's shuffle.
    labels = materialize(
        sym.groupBy(F.col("a").alias("id"))
        .agg(F.min("b").alias("minb"))
        .select("id", F.least(F.col("id"), F.col("minb")).alias("component")),
        eager=True,
    )

    def step(labels: DataFrame) -> DataFrame:
        # Neighbor-min propagation and pointer doubling fused into one
        # join: the label pointers (v → component(v)) ride the edge
        # list, so min(component(b)) over the augmented neighborhood
        # covers both the neighbor minimum and component(component(v)).
        # Labels are monotone non-increasing with component(x) <= x, so
        # the min never exceeds the old label and every vertex appears
        # through its own pointer edge. A tagged SELF edge (a=id, b=id)
        # carries the old component(id) through the same grouped pass
        # for the changed flag, without a join back to the old labels;
        # it adds component(id) to the min-set, a no-op.
        aug = (
            sym.withColumn("self", F.lit(False))
            .unionByName(
                labels.select(
                    F.col("id").alias("a"), F.col("component").alias("b")
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
        labels,
        step,
        max_iter=max_iter,
        converged=lambda s: s.filter("chg").count() == 0,
    )
    return labels.select("id", "component")


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
