"""Graph query inventory (SURVEY.md §2.10 + §1.1 analytics): the
property-graph surface on vertex/edge DataFrames, plus the fulltext
fuzzy index. The product→category graph comes from catalog.in_category
(edges) per FIXTURES.md §2.

To make connected-components non-trivial (the raw graph is 25 disjoint
stars), the CC query adds brand-bridge edges linking Brand#k to
Brand#(k+1) for k<5 — a deterministic derivation mirrored in the
oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import md5_int, md5_int_sql
from sales_agent_graphdb_spark.functions import text as tk
from sales_agent_graphdb_spark.operators import fulltext, graph
from sales_agent_graphdb_spark.queries import sources_io
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize
from sales_agent_graphdb_spark.sources import stamp
from sales_agent_graphdb_spark.sources.bucketing import write_bucketed


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed edges product-sku → category-name."""
    return catalog.in_category(spark, sf_dir).select(
        F.col("sku").alias("src"), F.col("category_name").alias("dst")
    )


@register(
    "g6_fulltext_fuzzy",
    oracle=f"""
    WITH idx AS (
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS id, t.token
      FROM part, unnest({tk.lower_ws_tokens_sql("p_name")}) AS t(token)
      WHERE length(t.token) > 0),
    scored AS (
      SELECT id, MIN(levenshtein(token, 'widgit')) AS distance
      FROM idx
      WHERE length(token) BETWEEN 4 AND 8 AND levenshtein(token, 'widgit') <= 2
      GROUP BY id)
    SELECT id, CAST(distance AS INT) AS distance
    FROM scored ORDER BY distance, id LIMIT 10
    """,
)
def g6_fulltext_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6 — Lucene-style fuzzy fulltext (`"widgit~"` with a typo,
    reference neo4j_service.py:71) over a derived inverted index +
    levenshtein ≤ 2, top-10 by (distance, id)."""
    prods = catalog.products(spark, sf_dir)
    idx = fulltext.inverted_index(prods, text_col="name", id_col="sku")
    hits = fulltext.fuzzy_search(idx, "widgit", max_distance=2, k=10)
    return hits.select("id", F.col("distance").cast("int").alias("distance")).orderBy(
        "distance", "id"
    )


@register(
    "graph_degrees",
    oracle="""
    SELECT p_brand AS id, COUNT(*) AS in_degree
    FROM part GROUP BY p_brand ORDER BY id
    """,
)
def graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Category vertex in-degree (how many products point at each
    category) — the basic graph-analytics primitive on the edge table."""
    e = _edges(spark, sf_dir)
    return (
        graph.degrees(e)
        .filter(F.col("in_degree") > 0)
        .select("id", "in_degree")
        .orderBy("id")
    )


@register(
    "graph_2hop_neighbors",
    oracle="""
    SELECT b.p_partkey AS neighbor_id, b.p_name AS name
    FROM part a JOIN part b ON a.p_brand = b.p_brand
    WHERE a.p_partkey = 42 AND b.p_partkey <> 42
    ORDER BY neighbor_id
    """,
)
def graph_2hop_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop traversal: product → category → sibling products
    (the co-category recommendation the reference's graph schema
    supports but only ever walks 1 hop of)."""
    e = _edges(spark, sf_dir)
    p = catalog.load_table(spark, sf_dir, "part")
    anchor = e.filter(F.col("src") == "42").select(F.col("dst").alias("cat"))
    sibs = (
        e.join(F.broadcast(anchor), e.dst == F.col("cat"))
        .filter(F.col("src") != "42")
        .select(F.col("src").cast("long").alias("neighbor_id"))
    )
    return (
        sibs.join(p, sibs.neighbor_id == p.p_partkey)
        .select("neighbor_id", F.col("p_name").alias("name"))
        .orderBy("neighbor_id")
    )


# Bridge edges: Brand#1→Brand#2→…→Brand#5 merge five star components.
_BRIDGE = [("Brand#1", "Brand#2"), ("Brand#2", "Brand#3"),
           ("Brand#3", "Brand#4"), ("Brand#4", "Brand#5")]


@register(
    "graph_connected_components",
    oracle="""
    WITH base AS (
      SELECT CAST(p_partkey AS VARCHAR) AS sku, p_brand,
             CASE WHEN p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#4','Brand#5')
                  THEN '§merged' ELSE p_brand END AS g
      FROM part),
    mins AS (SELECT g, MIN(sku) AS component FROM base GROUP BY g)
    SELECT b.sku AS id, m.component FROM base b JOIN mins m ON b.g = m.g
    UNION ALL
    SELECT DISTINCT b.p_brand AS id, m.component FROM base b JOIN mins m ON b.g = m.g
    ORDER BY component, id
    """,
)
def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the product-category graph + brand
    bridges (graph.connected_components). Components are identified by
    their minimum vertex label; with the bridges, Brand#1…#5 and all
    their products collapse into one component. Every product is a
    leaf, so the core left after contraction is the brands and the
    bridges (25 vertices, 4 edges) and is solved on the driver. The
    oracle derives the same partition closed-form (the graph is a
    forest of stars plus a known path)."""
    e = _edges(spark, sf_dir)
    bridges = spark.createDataFrame(_BRIDGE, ["src", "dst"])
    cc = graph.connected_components(e.unionByName(bridges))
    # canonical component label: the lexicographically-min member name
    # (string min labels; vertex ids here are strings)
    return cc.orderBy("component", "id")


def _pagerank_oracle(n_iter: int = 10) -> str:
    """Fixed-iteration PageRank oracle, closed-form for this graph.

    Every product has out-degree exactly 1 (one brand per part row) and
    receives no in-edges; every category is dangling. So per iteration
    all products share one rank ``rp`` and the dangling mass ``dang`` is
    the sum of category ranks — the whole iteration reduces to a
    2-scalar recurrence, unrolled here as ``n_iter - 1`` chained CTEs
    plus a final per-category update:

        rp(t+1)   = (1-d) + d * dang(t)/n
        dang(t+1) = nc*(1-d) + d*(np*rp(t) + nc*dang(t)/n)
        rank_c    = (1-d) + d*(deg_c * rp(t) + dang(t)/n)

    ``(1.0 - 0.85)`` is spelled as the subtraction so DuckDB produces
    the same IEEE double as the engine's ``F.lit(1 - damping)``; both
    sides round to 6 decimals before the hash compare."""
    omd = "(1.0 - 0.85)"  # 1 - damping, as computed (not the literal 0.15)
    its = ["it0 AS (SELECT 1.0 AS rp, nc * 1.0 AS dang FROM cnt)"]
    for k in range(1, n_iter):
        its.append(
            f"""it{k} AS (
      SELECT {omd} + 0.85 * prev.dang / (cnt.np + cnt.nc) AS rp,
             cnt.nc * {omd}
               + 0.85 * (cnt.np * prev.rp + cnt.nc * prev.dang / (cnt.np + cnt.nc)) AS dang
      FROM it{k - 1} prev, cnt)"""
        )
    chain = ",\n    ".join(its)
    return f"""
    WITH cnt AS (
      SELECT CAST(COUNT(DISTINCT p_partkey) AS DOUBLE) AS np,
             CAST(COUNT(DISTINCT p_brand) AS DOUBLE) AS nc
      FROM part),
    {chain},
    deg AS (
      SELECT p_brand AS id, CAST(COUNT(*) AS DOUBLE) AS d FROM part GROUP BY p_brand),
    ranks AS (
      SELECT deg.id,
             {omd} + 0.85 * (deg.d * fin.rp + fin.dang / (cnt.np + cnt.nc)) AS rank
      FROM deg, it{n_iter - 1} fin, cnt
      UNION ALL
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS id,
             (SELECT {omd} + 0.85 * fin.dang / (cnt.np + cnt.nc)
              FROM it{n_iter - 1} fin, cnt) AS rank
      FROM part)
    SELECT id, ROUND(rank, 6) AS rank
    FROM ranks ORDER BY rank DESC, id LIMIT 30
    """


@register("graph_pagerank", oracle=_pagerank_oracle(10))
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over product→category edges (10 iterations, d=0.85).
    Hash-checked against a closed-form fixed-iteration DuckDB oracle
    (see _pagerank_oracle); ranks rounded to 6 decimals on both sides
    so the ~1e-14 float drift between the distributed sum and the
    closed form cannot flip the hash. pytest additionally asserts
    Σrank ≈ N and that category ranks dominate."""
    e = _edges(spark, sf_dir)
    r = graph.pagerank(e, n_iter=10).select("id", F.round("rank", 6).alias("rank"))
    return r.orderBy(F.col("rank").desc(), "id").limit(30)


# ---------------------------------------------------------------------------
# Shared order↔brand bipartite layout (VERDICT r08 #6b): every
# brand-graph query scores the same projected brand graph
# (_brand_pairs), and each used to rebuild the distinct (okey, brand)
# pair table — a lineitem⨝part join + distinct — from scratch. The
# pairs are now materialized ONCE per sf as a table BUCKETED ON okey,
# so (a) the build cost is amortized across every consumer, and (b)
# the projection self-join on okey reads co-located buckets with NO
# Exchange (sources/bucketing.py — the same pay-at-ingest layout as
# join_bucketed_collocated). Single-writer
# rule: this layout is written only here and every consumer is
# read-only; the stamp covers BOTH sources (lineitem mtime:size as the
# stamp, part mtime:size folded into the version tag) plus a recipe
# version so code changes rebuild instead of silently reusing.
# ---------------------------------------------------------------------------

_OB_VERSION = "obv1"
_OB_BUCKETS = 16


def _order_brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import shutil
    import uuid

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_") or "sf"
    li_src = f"{sf_dir.rstrip('/')}/lineitem.parquet"
    part_src = f"{sf_dir.rstrip('/')}/part.parquet"
    version = f"{_OB_VERSION}:{stamp.src_stamp(part_src)}"
    # VERSION-ADDRESSED layout dir (ADVICE r09 TOCTOU): the directory
    # name encodes both sources' stamps + the recipe, so a stale layout
    # is never rewritten IN PLACE — a source/recipe change lands in a
    # NEW directory while concurrent readers of the old one keep their
    # files. Publication is an atomic os.rename from a private build
    # dir: of two racing builders, exactly one rename succeeds and the
    # loser discards its own build — no reader ever observes a
    # half-deleted layout. Old-version dirs are left behind (testdata
    # regeneration is rare and the layout is MBs); deleting them here
    # would reintroduce delete-under-reader.
    key = hashlib.md5(stamp.src_stamp(li_src, version).encode()).hexdigest()[:12]
    table = f"graph_ob_pairs_{tag}_{key}"
    path = f"{sources_io.SCRATCH}/graph_ob/{tag}_{key}"
    if not stamp.is_fresh(path, li_src, version):
        li = catalog.load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_partkey"
        )
        p = catalog.load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
        ob = (
            li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
            .select(
                F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand")
            )
            .distinct()
        )
        build_id = uuid.uuid4().hex[:8]
        tmp_path = f"{path}.build_{build_id}"
        tmp_table = f"{table}_b{build_id}"
        write_bucketed(ob, tmp_table, tmp_path, ["okey"], n_buckets=_OB_BUCKETS)
        # external table (explicit path): DROP removes metadata only
        spark.sql(f"DROP TABLE IF EXISTS {tmp_table}")
        stamp.mark(tmp_path, li_src, version)  # marker travels with the rename
        try:
            os.rename(tmp_path, path)
        except OSError:
            # another session published the same version first — use
            # theirs, discard ours (their files are never touched)
            shutil.rmtree(tmp_path, ignore_errors=True)
    if not spark.catalog.tableExists(table):
        # REGISTER the existing bucketed files with the same bucket
        # spec (Spark wrote them, so the bucket-id filename encoding
        # matches) — no data movement. "Table not registered" is the
        # NORMAL state for a new session: the catalog is in-memory.
        spark.sql(
            f"CREATE TABLE {table} (okey BIGINT, brand STRING) USING PARQUET "
            f"CLUSTERED BY (okey) INTO {_OB_BUCKETS} BUCKETS "
            f"LOCATION '{path}'"
        )
    return spark.table(table)


def _brand_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted brand projection (lo, hi, w): brand pairs lo < hi
    that share an order, w = the number of orders holding both —
    graph.co_occurrence_pairs over the okey-bucketed layout, so the
    self-join zips co-located buckets with no Exchange."""
    return graph.co_occurrence_pairs(_order_brand_pairs(spark, sf_dir), "okey", "brand")


def _weighted_sym(pairs: DataFrame) -> DataFrame:
    """Both directions (src, dst, w) of weighted (lo, hi, w) pairs."""
    return pairs.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst"), "w"
    ).unionByName(pairs.select(F.col("hi").alias("src"), F.col("lo").alias("dst"), "w"))


# The DuckDB twins of _order_brand_pairs (`ob`, the distinct (order,
# brand) facts) and _brand_pairs (`bp`, the weighted lo < hi brand
# pairs). Every brand-graph oracle starts from this one CTE text, so
# all of them read the same projection the Spark side builds once.
_OB_SQL = """ob AS MATERIALIZED (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey)"""
_BRAND_PAIRS_SQL = f"""{_OB_SQL},
    bp AS (
      SELECT a.brand AS lo, b.brand AS hi, CAST(COUNT(*) AS BIGINT) AS w
      FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
      GROUP BY lo, hi)"""


@register(
    "graph_brand_projection",
    oracle=f"""
    WITH {_BRAND_PAIRS_SQL}
    SELECT lo AS brand_a, hi AS brand_b, w AS n_orders
    FROM bp
    ORDER BY n_orders DESC, brand_a, brand_b LIMIT 20
    """,
)
def graph_brand_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite→unipartite graph projection: the order↔brand bipartite
    graph collapsed to a weighted brand-brand co-occurrence graph
    (edge weight = #orders containing both brands) — the standard
    projection step before community detection / recommendation on a
    product graph. Shape: broadcast dim join (part), distinct on the
    skinny (order, brand) pairs, self-join co-partitioned on the order
    key, count on the pair key, top-20 via TakeOrderedAndProject. The
    self-join is the O(Σ_order |brands|²) projection — bounded by
    per-order basket size (single-digit), NEVER corpus-quadratic, so
    the shape survives 100 TB fact tables. The weighted pairs are
    _brand_pairs, whose self-join zips co-located buckets with no
    Exchange."""
    return (
        _brand_pairs(spark, sf_dir)
        .toDF("brand_a", "brand_b", "n_orders")
        .orderBy(F.col("n_orders").desc(), "brand_a", "brand_b")
        .limit(20)
    )


def _proximity_edges(c: DataFrame) -> DataFrame:
    """The derived customer proximity graph shared by
    graph_triangle_count, graph_label_propagation and graph_k_core:
    each customer linked to the next 1 and next 2 custkeys within its
    nation, as (src, dst) with src < dst. _PROXIMITY_SQL mirrors it."""
    from pyspark.sql import Window as W

    w = W.partitionBy("c_nationkey").orderBy("c_custkey")
    nbr = c.select(
        F.col("c_custkey").alias("src"),
        F.array(
            F.lead("c_custkey", 1).over(w), F.lead("c_custkey", 2).over(w)
        ).alias("ns"),
    )
    return nbr.select("src", F.explode("ns").alias("dst")).filter(
        F.col("dst").isNotNull()
    )


# _proximity_edges as DuckDB CTEs: edges (lo < hi) and sym (both
# directions). The triangle, LPA and k-core oracles each append their
# own CTEs.
_PROXIMITY_SQL = """
    WITH ordered AS (
      SELECT c_custkey AS k,
             lead(c_custkey, 1) OVER w AS n1,
             lead(c_custkey, 2) OVER w AS n2
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey)),
    edges AS (
      SELECT k AS lo, n1 AS hi FROM ordered WHERE n1 IS NOT NULL
      UNION ALL
      SELECT k AS lo, n2 AS hi FROM ordered WHERE n2 IS NOT NULL),
    sym AS (SELECT lo AS src, hi AS dst FROM edges
            UNION ALL SELECT hi AS src, lo AS dst FROM edges)"""


@register(
    "graph_triangle_count",
    oracle=_PROXIMITY_SQL + """,
    tri AS (
      SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
      FROM edges e1
      JOIN edges e2 ON e2.lo = e1.hi
      JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
    SELECT id, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS id FROM tri)
    GROUP BY id ORDER BY id
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics extension — per-vertex TRIANGLE COUNTS, the
    clustering/community primitive (the product-category graph is
    bipartite and triangle-free, so the query derives a deterministic
    customer proximity graph: each customer linked to the next 1 and
    next 2 custkeys within its nation — per-nation chains whose
    consecutive triples form triangles). Two equi-join shuffles with
    canonical a<b<c orientation so each triangle is generated exactly
    once (operators/graph.py:triangle_count); the oracle mirrors the
    same windowed edge derivation and closes wedges with the same two
    joins."""
    c = catalog.load_table(spark, sf_dir, "customer")
    edges = _proximity_edges(c)
    return graph.triangle_count(edges).orderBy("id")


@register(
    "graph_shortest_paths",
    oracle="""
    WITH bd AS (
      SELECT DISTINCT p_brand AS id,
             CAST(substr(p_brand, 7) AS INT) - 1 AS d
      FROM part
      WHERE p_brand IN ('Brand#1','Brand#2','Brand#3','Brand#4','Brand#5'))
    SELECT id, CAST(d AS INT) AS distance FROM bd
    UNION ALL
    SELECT CAST(p.p_partkey AS VARCHAR) AS id, CAST(b.d + 1 AS INT) AS distance
    FROM part p JOIN bd b ON p.p_brand = b.id
    ORDER BY distance, id
    """,
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics extension — unweighted SHORTEST-PATH DISTANCES
    (single-source BFS) from Brand#1 over the product-category graph +
    brand bridges: frontier-expansion driver loop, one join + one
    anti-join per level over the CURRENT wavefront only
    (operators/graph.py:bfs_distances — the iterative pattern CC/PR
    share). With the bridge path Brand#1→…→Brand#5, distances are
    brand k-1 hops and its products k hops; unreachable brands are
    absent. The oracle states that closed form (the recursive-CTE walk
    would enumerate exponentially many bounded paths through the star
    cycles — closed form is the honest mirror, the technique the
    PageRank oracle established)."""
    e = _edges(spark, sf_dir)
    bridges = spark.createDataFrame(_BRIDGE, ["src", "dst"])
    dist = graph.bfs_distances(
        e.unionByName(bridges), source="Brand#1", max_depth=8
    )
    return dist.select(
        "id", F.col("distance").cast("int").alias("distance")
    ).orderBy("distance", "id")


# ---------------------------------------------------------------------------
# Label propagation (community detection) — synchronous LPA with a
# deterministic update rule, over the same derived customer proximity
# graph as graph_triangle_count (per-nation custkey chains).
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    parts = [_PROXIMITY_SQL, """,
    l0 AS (SELECT c_custkey AS node, CAST(c_custkey AS BIGINT) AS label
           FROM customer)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
    r{i} AS (SELECT s.dst AS node, l.label, COUNT(*) AS wt
             FROM sym s JOIN l{i - 1} l ON l.node = s.src GROUP BY 1, 2),
    p{i} AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY wt DESC, label) AS rk FROM r{i})
             WHERE rk = 1),
    l{i} AS (SELECT l{i - 1}.node, COALESCE(p{i}.label, l{i - 1}.label) AS label
             FROM l{i - 1} LEFT JOIN p{i} USING (node))""")
    parts.append(f"\n    SELECT node, label AS community FROM l{rounds} ORDER BY node")
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via synchronous label propagation, 4 rounds,
    deterministic update rule: each node adopts the label with the
    highest neighbor count, ties broken by MIN label (so the result is
    a pure function of the graph — no run-to-run nondeterminism, which
    is what makes an LPA usable inside a verified pipeline).

    Spark-first shape: per round, ONE equi-join (labels onto edge
    sources, partitioned by node key) + ONE map-side-combinable count
    agg + a per-node argmax aggregate (sharded by node, never global) +
    a left join back for isolated nodes, as a fixed-round step on
    graph.superstep. The symmetrized edge frame is materialized once
    and reused by all rounds. Per-round cost is O(|E|) shuffle —
    the same budget as one PageRank iteration; rounds are a fixed small
    constant. Edges: _proximity_edges."""
    c = catalog.load_table(spark, sf_dir, "customer")
    sym = materialize(graph.symmetrize(_proximity_edges(c)), eager=False)

    def step(labels: DataFrame) -> DataFrame:
        votes = (
            sym.join(labels.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("wt"))
        )
        # Per-node argmax as an aggregate, not a row_number window:
        # min(struct(-wt, label)) orders by wt DESC, then the MIN-label
        # tie-break, and combines map-side (no per-partition sort).
        # wt >= 1 is a group count, so -wt cannot overflow.
        best = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("wt")).alias("nw"), F.col("label"))).alias("b"))
            .select("node", F.col("b.label").alias("new_label"))
        )
        return labels.join(best, "node", "left").select(
            "node", F.coalesce(F.col("new_label"), F.col("label")).alias("label")
        )

    labels = c.select(
        F.col("c_custkey").alias("node"), F.col("c_custkey").cast("bigint").alias("label")
    )
    labels, _ = graph.superstep(labels, step, max_iter=_LPA_ROUNDS)
    return labels.select("node", F.col("label").alias("community")).orderBy("node")


# ---------------------------------------------------------------------------
# Bounded k-core peeling — the degeneracy/community-density primitive:
# repeatedly drop nodes with fewer than k surviving neighbors. Run for
# a FIXED round count (like the LPA unroll) so both engines compute
# the identical intermediate, converged or not.
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    parts = [_PROXIMITY_SQL, ",\n    n0 AS (SELECT c_custkey AS node FROM customer)"]
    prev = "n0"
    for i in range(1, rounds + 1):
        parts.append(f""",
    d{i} AS (SELECT s.src AS node, COUNT(*) AS deg FROM sym s
            JOIN {prev} a ON s.src = a.node
            JOIN {prev} b ON s.dst = b.node GROUP BY 1),
    n{i} AS (SELECT node FROM d{i} WHERE deg >= {k})""")
        prev = f"n{i}"
    parts.append(f"""
    SELECT n.node, CAST(d.deg AS BIGINT) AS residual_degree
    FROM n{rounds} n JOIN d{rounds} d USING (node) ORDER BY n.node""")
    return "".join(parts)


def _peel_step(sym: DataFrame, k: int):
    """One k-core peeling round for graph.superstep over a symmetric
    (src, dst) edge frame: state = (node, deg) of the previous round,
    whose survivors are the nodes with deg >= k; returns each
    survivor's degree in the subgraph the survivors induce. State None
    means nothing has been peeled yet, so round 1 is one groupBy over
    the edges with no survivor joins."""

    def step(deg):
        edges = sym
        if deg is not None:
            alive = deg.filter(F.col("deg") >= k).select("node")
            edges = sym.join(alive.withColumnRenamed("node", "src"), "src").join(
                alive.withColumnRenamed("node", "dst"), "dst"
            )
        return edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )

    return step


@register("graph_k_core", oracle=_kcore_oracle())
def graph_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded {k}-core peeling over the customer proximity graph
    (4 rounds): each round recomputes degrees over the SURVIVING
    subgraph and drops nodes below degree 3 — the density primitive
    behind community pruning and graph degeneracy orderings. Fixed
    round count keeps the result a pure function of the graph on both
    engines (the LPA unroll rule); a production run loops to a
    fixpoint with the same per-round plan plus the CC-style
    changed-flag early exit.

    Scale: per round ONE degree aggregation over edges whose BOTH
    endpoints survive (two semi-join-shaped equi-joins against the
    checkpointed survivor set, each O(|E|); _peel_step); the survivor
    frame shrinks monotonically, so later rounds cost less, never more.
    Edges: _proximity_edges."""
    c = catalog.load_table(spark, sf_dir, "customer")
    sym = materialize(graph.symmetrize(_proximity_edges(c)), eager=False)
    deg, _ = graph.superstep(None, _peel_step(sym, _KCORE_K), max_iter=_KCORE_ROUNDS)
    return (
        deg.filter(F.col("deg") >= _KCORE_K)
        .select("node", F.col("deg").cast("bigint").alias("residual_degree"))
        .orderBy("node")
    )


# ---------------------------------------------------------------------------
# Fixpoint k-core over the co-purchase graph (VERDICT r05 #5): the
# production loop-to-convergence form. The Spark side iterates with a
# count-based changed flag (survivor sets shrink monotonically, so
# count equality == set equality) under a max-round guard; the oracle
# unrolls the peel PAST the measured convergence depth — post-fixpoint
# rounds are no-ops, so the unrolled SQL equals the true k-core — and
# derives the data-determined round count from the unrolled cardinality
# sequence, so convergence depth itself is hash-verified.
# ---------------------------------------------------------------------------

_KCORE_FIX_K = 65        # below the core-collapse threshold at every test SF
_KCORE_FIX_UNROLL = 8    # oracle unroll; measured fixpoint: 4 rounds at
                         # sf0.001, 2 at sf0.01 (probe in CHANGES_r06.md)
_KCORE_FIX_GUARD = 32    # Spark-side max-round guard (raises if reached)


# MATERIALIZED hints are load-bearing: each n_i is referenced twice by
# d_{i+1}, so an inlining planner would expand the chain 2^rounds
# times. Forcing one evaluation per CTE keeps the oracle linear in
# rounds (DuckDB honors the Postgres-style hint).
_COPURCHASE_EDGES_SQL = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    sym AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM pairs
            UNION ALL SELECT hi AS src, lo AS dst FROM pairs),
    n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)"""


def _kcore_fixpoint_oracle(k: int = _KCORE_FIX_K,
                           rounds: int = _KCORE_FIX_UNROLL) -> str:
    parts = [_COPURCHASE_EDGES_SQL]
    prev = "n0"
    for i in range(1, rounds + 1):
        parts.append(f""",
    d{i} AS MATERIALIZED (SELECT s.src AS node, COUNT(*) AS deg FROM sym s
            JOIN {prev} a ON s.src = a.node
            JOIN {prev} b ON s.dst = b.node GROUP BY 1),
    n{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {k})""")
        prev = f"n{i}"
    counts = ", ".join(
        f"(SELECT COUNT(*) FROM n{i}) AS c{i}" for i in range(rounds + 1)
    )
    fix_case = " ".join(
        f"WHEN c{i} = c{i - 1} THEN {i}" for i in range(1, rounds + 1)
    )
    parts.append(f""",
    cardinals AS (SELECT {counts}),
    fix AS (SELECT CASE {fix_case} END AS r FROM cardinals)
    SELECT n.node AS node,
           CAST(d.deg AS BIGINT) AS residual_degree,
           CAST(fix.r AS BIGINT) AS rounds_to_fixpoint
    FROM n{rounds} n JOIN d{rounds} d USING (node), fix
    ORDER BY n.node""")
    return "".join(parts)


@register("graph_k_core_fixpoint", oracle=_kcore_fixpoint_oracle())
def graph_k_core_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling run TO CONVERGENCE (not a fixed unroll) over the
    part co-purchase graph — parts are adjacent when they appear in the
    same order, the basket structure the reference's recommendation
    surface walks one hop of (neo4j_service.py:256-323). Each round
    recomputes degrees over the surviving induced subgraph and drops
    nodes below degree {k}; the loop exits on a changed-flag — survivor
    sets shrink monotonically (n_i ⊆ n_{{i-1}}), so a count-equality
    check is a sound set-equality check — under a max-round guard of
    {guard} that raises if reached. The returned `rounds_to_fixpoint`
    is data-determined (4 at sf0.001, 2 at sf0.01), certifying the loop
    really converged rather than running a hardcoded schedule; the
    oracle reproduces it from the unrolled cardinality sequence.

    Scale: the edge build is the bounded per-order basket self-join
    (graph.co_occurrence_edges — fanout is items-per-order², never
    corpus²). Per round: ONE degree aggregation over edges whose both
    endpoints survive (_peel_step, on graph.superstep); later rounds
    cost strictly less as the subgraph shrinks, and the loop runs only
    as long as the data demands. Each round's one driver action is the
    survivor count that tests convergence.
    """
    li = catalog.load_table(spark, sf_dir, "lineitem")
    sym = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    sizes = []

    def converged(deg: DataFrame) -> bool:
        total, alive = deg.agg(
            F.count(F.lit(1)), F.count(F.when(F.col("deg") >= _KCORE_FIX_K, 1))
        ).collect()[0]
        # |n0| = every node of sym (all have deg >= 1 in round 1).
        prev = sizes[-1] if sizes else total
        sizes.append(alive)
        return alive == prev

    deg, rounds = graph.superstep(
        None, _peel_step(sym, _KCORE_FIX_K), max_iter=_KCORE_FIX_GUARD,
        converged=converged,
    )
    return (
        deg.filter(F.col("deg") >= _KCORE_FIX_K)
        .select(
            F.col("node").cast("bigint").alias("node"),
            F.col("deg").cast("bigint").alias("residual_degree"),
            F.lit(rounds).cast("bigint").alias("rounds_to_fixpoint"),
        )
        .orderBy("node")
    )


graph_k_core_fixpoint.__doc__ = graph_k_core_fixpoint.__doc__.format(
    k=_KCORE_FIX_K, guard=_KCORE_FIX_GUARD
)


_SSSP_SEED = 42
_SSSP_HOPS = 3

_SSSP_ORACLE = f"""
WITH RECURSIVE pairs AS (
  SELECT a.l_partkey AS lo, b.l_partkey AS hi, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2),
sym AS (SELECT lo AS src, hi AS dst, 1.0 / cnt AS w FROM pairs
        UNION ALL SELECT hi AS src, lo AS dst, 1.0 / cnt AS w FROM pairs),
walk(node, dist, depth) AS (
  SELECT CAST({_SSSP_SEED} AS BIGINT) AS node, CAST(0.0 AS DOUBLE) AS dist, 0 AS depth
  UNION ALL
  SELECT s.dst AS node, w.dist + s.w AS dist, w.depth + 1 AS depth
  FROM walk w JOIN sym s ON s.src = w.node WHERE w.depth < {_SSSP_HOPS})
SELECT node, CAST(MIN(dist) AS DOUBLE) AS dist
FROM walk GROUP BY node ORDER BY node
"""


@register("graph_sssp_bounded", oracle=_SSSP_ORACLE)
def graph_sssp_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths, bounded to {hops} hops —
    the missing weighted variant next to the unweighted BFS
    (graph_shortest_paths): edge weight = 1/co-purchase-count (more
    co-purchases = closer), distance = min path-weight sum from part
    {seed}. Implemented as {hops} Bellman-Ford relaxation rounds —
    each round one frontier⋈edges equi-join + a min aggregate, the
    same O(|E|)-per-round budget as every iterative operator here,
    with NO path enumeration (state is one dist per node). The oracle
    enumerates all ≤{hops}-hop paths via RECURSIVE CTE and takes the
    MIN — exponential in depth, which is exactly why the engine side
    must NOT do it that way; the bound keeps the oracle tractable.

    Float exactness: a path's distance accumulates left-to-right in
    BOTH engines (Bellman-Ford's dist+w at round k reuses the round
    k-1 sum — the same grouping as the CTE's running sum), so MIN
    compares bit-identical candidates. Weights are 1.0/cnt with cnt
    from identical integer group counts.

    At 100 TB: relaxation rounds are bounded frontier joins; the dist
    state co-partitions with the edge list on the node key, and each
    round is a fixed-round step on graph.superstep. The weighted edge
    build is graph.co_occurrence_pairs over the raw lineitem rows, so
    cnt counts duplicate (order, part) rows, as the oracle's does."""
    li = catalog.load_table(spark, sf_dir, "lineitem")
    pairs = graph.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    edges = materialize(
        _weighted_sym(pairs.withColumn("w", F.lit(1.0) / F.col("w"))), eager=True
    )

    def relax(dist: DataFrame) -> DataFrame:
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist")
        )
        return dist.unionByName(relaxed).groupBy("node").agg(F.min("dist").alias("dist"))

    seed = spark.createDataFrame([(_SSSP_SEED, 0.0)], "node long, dist double")
    dist, _ = graph.superstep(seed, relax, max_iter=_SSSP_HOPS)
    return dist.orderBy("node")


graph_sssp_bounded.__doc__ = graph_sssp_bounded.__doc__.format(
    hops=_SSSP_HOPS, seed=_SSSP_SEED
)


@register(
    "graph_node_jaccard",
    oracle=f"""
    WITH {_BRAND_PAIRS_SQL},
    deg AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS d FROM ob GROUP BY brand),
    co AS (SELECT lo AS brand_a, hi AS brand_b, w AS n_common FROM bp)
    SELECT co.brand_a, co.brand_b, co.n_common,
           ROUND(CAST(co.n_common AS DOUBLE)
                 / (da.d + db.d - co.n_common), 6) AS jaccard
    FROM co
    JOIN deg da ON co.brand_a = da.brand
    JOIN deg db ON co.brand_b = db.brand
    ORDER BY jaccard DESC, brand_a, brand_b LIMIT 20
    """,
)
def graph_node_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NODE SIMILARITY (Jaccard over neighborhoods) — the link-
    prediction primitive (Neo4j GDS nodeSimilarity's exact form):
    for each brand pair sharing an order, |N(a) ∩ N(b)| /
    |N(a) ∪ N(b)| over their order-neighborhoods in the order↔brand
    bipartite graph; top-20 most-similar pairs. Builds on
    graph_brand_projection's co-occurrence join (the intersection) +
    one broadcast-joined degree table (inclusion-exclusion gives the
    union without a second pair pass).

    Scale: the pair join is inverted-index shaped — keyed by okey, so
    cost is Σ_orders(brands_per_order²), bounded by basket width,
    NEVER |brands|² (the dedup_*'s candidate-pair discipline); the
    degree table is |nodes|-sized and broadcast. Jaccard is one
    integer-derived division rounded to 6 dp on both engines. The
    intersections are _brand_pairs (pair join Exchange-free); the
    degrees come from the same okey-BUCKETED layout."""
    deg = _order_brand_pairs(spark, sf_dir).groupBy("brand").agg(
        F.count(F.lit(1)).alias("d")
    )
    co = _brand_pairs(spark, sf_dir).toDF("brand_a", "brand_b", "n_common")
    da = deg.select(F.col("brand").alias("brand_a"), F.col("d").alias("da"))
    db = deg.select(F.col("brand").alias("brand_b"), F.col("d").alias("db"))
    return (
        co.join(F.broadcast(da), "brand_a")
        .join(F.broadcast(db), "brand_b")
        .select(
            "brand_a",
            "brand_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("da") + F.col("db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "brand_a", "brand_b")
        .limit(20)
    )


_WALK_STEPS = 3
_WALK_SALT = "walk8"
_WALK_STARTS = 200  # md5-chosen start nodes (bounded output at any SF)


def _walk_h_sql(node: str, step: int) -> str:
    return md5_int_sql(node, f"|{step}|{_WALK_SALT}", 13)


@register(
    "graph_random_walk_corpus",
    oracle=f"""
    WITH und AS (
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS src, p_brand AS dst
      FROM part
      UNION ALL
      SELECT DISTINCT p_brand, CAST(p_partkey AS VARCHAR) FROM part),
    adj AS (
      SELECT src, dst,
             row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rn,
             COUNT(*) OVER (PARTITION BY src) AS deg
      FROM und),
    starts AS (
      SELECT src AS n0 FROM (SELECT DISTINCT src FROM und)
      ORDER BY md5(src || '{_WALK_SALT}') LIMIT {_WALK_STARTS}),
    s1 AS (
      SELECT w.n0, a.dst AS n1 FROM starts w
      JOIN adj a ON a.src = w.n0
       AND a.rn = {_walk_h_sql('w.n0', 1)} % a.deg),
    s2 AS (
      SELECT w.n0, w.n1, a.dst AS n2 FROM s1 w
      JOIN adj a ON a.src = w.n1
       AND a.rn = {_walk_h_sql('w.n1', 2)} % a.deg),
    s3 AS (
      SELECT w.n0, w.n1, w.n2, a.dst AS n3 FROM s2 w
      JOIN adj a ON a.src = w.n2
       AND a.rn = {_walk_h_sql('w.n2', 3)} % a.deg)
    SELECT n0 AS start_node, n0 || '>' || n1 || '>' || n2 || '>' || n3 AS walk
    FROM s3 ORDER BY start_node
    """,
)
def graph_random_walk_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM-WALK CORPUS generation (the DeepWalk/node2vec data-prep
    step: walks become 'sentences' an embedding model trains on) over
    the undirected product↔brand graph — with the walk's randomness
    FROZEN into the shared md5-52 hash (neighbor index at step t =
    h(node, t) mod degree), so both engines traverse the identical
    {steps}-step walks and the corpus is hash-checked end-to-end;
    {starts} md5-chosen start nodes bound the output at every SF.

    Scale: each step is ONE equi-join of the walk frontier against
    the rn-indexed adjacency (row_number per source, the standard
    neighbor-sampling layout) — frontier size stays |starts| forever,
    adjacency shuffles once and is reused; at 100 TB walks fan out to
    millions of starts and the same {steps} joins carry them all (no
    per-walk recursion, no driver loop)."""
    und = _edges(spark, sf_dir).unionByName(
        _edges(spark, sf_dir).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    ).distinct()
    from pyspark.sql import Window as W

    adj = materialize(
        und.select(
            "src",
            "dst",
            (F.row_number().over(W.partitionBy("src").orderBy("dst")) - 1).alias("rn"),
            F.count(F.lit(1)).over(W.partitionBy("src")).alias("deg"),
        ),
        eager=False,
    )

    def h(node_col: F.Column, step: int) -> F.Column:
        return md5_int(node_col, f"|{step}|{_WALK_SALT}", 13)

    frontier = (
        und.select("src").distinct()
        .orderBy(F.md5(F.concat(F.col("src"), F.lit(_WALK_SALT))))
        .limit(_WALK_STARTS)
        .select(F.col("src").alias("n0"))
    )
    walk = frontier
    prev = "n0"
    for t in range(1, _WALK_STEPS + 1):
        step_adj = adj.select(
            F.col("src").alias(f"_s{t}"),
            F.col("dst").alias(f"n{t}"),
            F.col("rn").alias(f"_r{t}"),
            F.col("deg").alias(f"_d{t}"),
        )
        walk = walk.join(
            step_adj,
            (F.col(prev) == F.col(f"_s{t}"))
            & (F.col(f"_r{t}") == F.pmod(h(F.col(prev), t), F.col(f"_d{t}"))),
        ).drop(f"_s{t}", f"_r{t}", f"_d{t}")
        prev = f"n{t}"
    return walk.select(
        F.col("n0").alias("start_node"),
        F.concat_ws(">", "n0", "n1", "n2", "n3").alias("walk"),
    ).orderBy("start_node")


@register(
    "graph_hits_hubs_authorities",
    oracle="""
    WITH e AS (
      SELECT DISTINCT CAST(p_partkey AS VARCHAR) AS hub, p_brand AS auth
      FROM part),
    a1 AS (  -- authority_1 = in-degree (hubs start at 1)
      SELECT auth, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY auth),
    h1 AS (  -- hub_1 = sum of its authorities' a1
      SELECT e.hub, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM e JOIN a1 USING (auth) GROUP BY e.hub),
    a2 AS (  -- authority_2 = sum of its hubs' h1
      SELECT e.auth, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM e JOIN h1 USING (hub) GROUP BY e.auth),
    mx AS (SELECT MAX(a) AS m FROM a2)
    SELECT a2.auth AS brand, a2.a AS raw_score,
           ROUND(CAST(a2.a AS DOUBLE) / mx.m, 6) AS authority
    FROM a2, mx
    ORDER BY raw_score DESC, brand LIMIT 10
    """,
)
def graph_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs & authorities, Kleinberg) on the product↔brand
    bipartite graph — the OTHER eigenvector-centrality fixpoint next
    to graph_pagerank: two unrolled mutual-reinforcement iterations
    (authority = Σ hub scores of its products, hub = Σ authority
    scores of its brands) computed in EXACT INTEGER arithmetic — on
    an unweighted graph the first iterations are pure degree
    convolutions, so there is no float anywhere until one final
    normalization by the max (a single division, rounded 6 dp).
    Top-10 authorities.

    Scale: each half-iteration is one edge-keyed join + aggregate
    (the per-round shape of graph_k_core_fixpoint); scores live on
    nodes, joins shuffle edges — O(|E|) per round at any size. More
    rounds converge toward the principal eigenvector; the unrolled
    form keeps the oracle exact (the iterative twin would follow
    graph_pagerank's fixpoint pattern)."""
    e = _edges(spark, sf_dir).select(
        F.col("src").alias("hub"), F.col("dst").alias("auth")
    ).distinct()
    a1 = e.groupBy("auth").agg(F.count(F.lit(1)).alias("a"))
    h1 = (
        e.join(a1, "auth")
        .groupBy("hub")
        .agg(F.sum("a").alias("h"))
    )
    a2 = (
        e.join(h1, "hub")
        .groupBy("auth")
        .agg(F.sum("h").alias("a"))
    )
    mx = a2.agg(F.max("a").alias("m"))
    return (
        a2.crossJoin(F.broadcast(mx))
        .select(
            F.col("auth").alias("brand"),
            F.col("a").alias("raw_score"),
            F.round(F.col("a").cast("double") / F.col("m"), 6).alias("authority"),
        )
        .orderBy(F.col("raw_score").desc(), "brand")
        .limit(10)
    )


@register(
    "graph_modularity_score",
    oracle=f"""
    WITH {_BRAND_PAIRS_SQL},
    proj AS (SELECT lo AS ba, hi AS bb, w FROM bp),
    comm AS (
      SELECT brand,
             {md5_int_sql("brand", "mod8")} % 4 AS c
      FROM (SELECT DISTINCT brand FROM ob)),
    parts AS (
      SELECT 'all_in_one' AS partition_name, brand, 0 AS c FROM comm
      UNION ALL
      SELECT 'md5_hash_4', brand, c FROM comm),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM proj),
    intra AS (
      SELECT pa.partition_name, CAST(SUM(p.w) AS BIGINT) AS e_in
      FROM proj p
      JOIN parts pa ON pa.brand = p.ba
      JOIN parts pb ON pb.brand = p.bb
       AND pb.partition_name = pa.partition_name AND pb.c = pa.c
      GROUP BY pa.partition_name),
    deg AS (
      SELECT pa.partition_name, pa.c, CAST(SUM(t.d) AS BIGINT) AS d_c
      FROM (SELECT ba AS brand, SUM(w) AS d FROM proj GROUP BY ba
            UNION ALL
            SELECT bb, SUM(w) FROM proj GROUP BY bb) t
      JOIN parts pa ON pa.brand = t.brand
      GROUP BY pa.partition_name, pa.c),
    q AS (
      SELECT d.partition_name,
             SUM(CAST(d.d_c AS DOUBLE) * d.d_c) AS sum_d2
      FROM deg d GROUP BY d.partition_name)
    SELECT q.partition_name,
           tot.m AS total_weight,
           COALESCE(i.e_in, 0) AS intra_weight,
           ROUND(CAST(COALESCE(i.e_in, 0) AS DOUBLE) / tot.m
                 - q.sum_d2 / (4.0 * tot.m * tot.m), 6) AS modularity
    FROM q LEFT JOIN intra i USING (partition_name), tot
    ORDER BY partition_name
    """,
)
def graph_modularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODULARITY (Newman Q) — the partition-quality evaluator that
    closes the community-detection loop: graph_label_propagation /
    graph_connected_components PRODUCE partitions, this SCORES one,
    Q = e_in/m − Σ_c (d_c/2m)², on the weighted brand projection. Two
    partitions are scored side by side: the all-in-one partition,
    whose Q is ZERO BY ALGEBRA (e_in = m and Σd_c = 2m — a built-in
    self-check the oracle hash enforces), and a deterministic
    md5-hash 4-way partition (≈0, the null-model baseline a real
    community score must beat). Every accumulation is exact integer
    edge weight; doubles appear only in the final closed form,
    rounded 6 dp.

    Scale: the projection reuses graph_brand_projection's
    inverted-index shape; scoring is two |edges|-sized joins against
    a broadcast |nodes| community map and |C|-sized folds — at 100 TB
    the score costs one pass over the projected edges, so it runs
    after every LPA round if wanted. The projection is _brand_pairs;
    the brand list comes from the same okey-BUCKETED layout."""
    proj = materialize(_brand_pairs(spark, sf_dir).toDF("ba", "bb", "w"), eager=False)
    comm = _order_brand_pairs(spark, sf_dir).select("brand").distinct().select(
        "brand",
        (md5_int("brand", "mod8") % 4).alias("c"),
    )
    parts = comm.select(
        F.lit("all_in_one").alias("partition_name"), "brand", F.lit(0).alias("c")
    ).unionByName(comm.select(F.lit("md5_hash_4").alias("partition_name"), "brand", "c"))
    m = proj.agg(F.sum("w").alias("m"))
    pa = parts.select(
        F.col("partition_name"), F.col("brand").alias("ba"), F.col("c").alias("ca")
    )
    pb = parts.select(
        F.col("partition_name").alias("pn_b"),
        F.col("brand").alias("brand_b"),
        F.col("c").alias("cb"),
    )
    intra = (
        proj.join(F.broadcast(pa), "ba")
        .join(
            F.broadcast(pb),
            (F.col("bb") == F.col("brand_b"))
            & (F.col("partition_name") == F.col("pn_b"))
            & (F.col("ca") == F.col("cb")),
        )
        .groupBy("partition_name")
        .agg(F.sum("w").alias("e_in"))
    )
    deg = (
        proj.select(F.col("ba").alias("brand"), "w")
        .unionByName(proj.select(F.col("bb").alias("brand"), "w"))
        .groupBy("brand")
        .agg(F.sum("w").alias("d"))
    )
    d_c = (
        deg.join(F.broadcast(parts), "brand")
        .groupBy("partition_name", "c")
        .agg(F.sum("d").alias("d_c"))
    )
    sum_d2 = d_c.groupBy("partition_name").agg(
        F.sum(F.col("d_c").cast("double") * F.col("d_c")).alias("sum_d2")
    )
    return (
        sum_d2.join(intra, "partition_name", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "partition_name",
            F.col("m").alias("total_weight"),
            F.coalesce("e_in", F.lit(0)).alias("intra_weight"),
            F.round(
                F.coalesce("e_in", F.lit(0)).cast("double") / F.col("m")
                - F.col("sum_d2") / (4.0 * F.col("m") * F.col("m")),
                6,
            ).alias("modularity"),
        )
        .orderBy("partition_name")
    )


@register(
    "graph_resource_allocation",
    oracle=f"""
    WITH {_OB_SQL},
    deg AS (SELECT okey, CAST(COUNT(*) AS BIGINT) AS d FROM ob GROUP BY okey)
    SELECT a.brand AS brand_a, b.brand AS brand_b,
           CAST(SUM(1000000 // deg.d) AS BIGINT) AS ra_score_ppm,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM ob a
    JOIN ob b ON a.okey = b.okey AND a.brand < b.brand
    JOIN deg ON deg.okey = a.okey
    GROUP BY brand_a, brand_b
    ORDER BY ra_score_ppm DESC, brand_a, brand_b LIMIT 20
    """,
)
def graph_resource_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESOURCE-ALLOCATION link prediction (Zhou-Lü-Zhang's RA index,
    the log-free sibling of Adamic-Adar): candidate brand pairs score
    Σ_{o ∈ N(a)∩N(b)} 1/deg(o) — common neighbors discount by how
    promiscuous they are (an order containing 9 brands says less
    about any pair than a 2-brand order). Completes the
    link-prediction kit next to graph_node_jaccard (set overlap) and
    graph_brand_projection (raw co-occurrence). FIXED-POINT exact:
    1/deg is summed as the integer 1000000 div deg (ppm units), so
    the score is portable integer arithmetic end to end — no float
    summation-order drift, per the no-transcendentals discipline
    (log-weighted Adamic-Adar is NOT registrable under it; RA is the
    published alternative that needs no log).

    Scale: all three frames come from the shared okey-BUCKETED layout
    (_order_brand_pairs) — the pair self-join AND the per-order degree
    aggregate read co-located buckets with no Exchange; cost is
    Σ_orders(basket²), never |brands|²; top-20 via
    TakeOrderedAndProject."""
    ob = _order_brand_pairs(spark, sf_dir)
    deg = ob.groupBy(F.col("okey").alias("dokey")).agg(
        F.count(F.lit(1)).alias("d")
    )
    a, b = ob.alias("a"), ob.alias("b")
    return (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.brand") < F.col("b.brand")),
        )
        .join(deg, F.col("a.okey") == F.col("dokey"))
        .groupBy(
            F.col("a.brand").alias("brand_a"), F.col("b.brand").alias("brand_b")
        )
        .agg(
            F.sum(F.expr("1000000 div d")).alias("ra_score_ppm"),
            F.count(F.lit(1)).alias("n_common"),
        )
        .orderBy(F.col("ra_score_ppm").desc(), "brand_a", "brand_b")
        .limit(20)
    )


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_BRAND_PAIRS_SQL},
    e AS (SELECT lo AS ba, hi AS bb FROM bp),
    und AS (
      SELECT ba AS v, bb AS w FROM e UNION ALL SELECT bb, ba FROM e),
    deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS d FROM und GROUP BY v),
    tri AS (
      SELECT t.v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT e1.ba AS v FROM e e1 JOIN e e2 ON e2.ba = e1.bb
          JOIN e e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
        UNION ALL
        SELECT e1.bb FROM e e1 JOIN e e2 ON e2.ba = e1.bb
          JOIN e e3 ON e3.ba = e1.ba AND e3.bb = e2.bb
        UNION ALL
        SELECT e2.bb FROM e e1 JOIN e e2 ON e2.ba = e1.bb
          JOIN e e3 ON e3.ba = e1.ba AND e3.bb = e2.bb) t
      GROUP BY t.v)
    SELECT deg.v AS brand, deg.d AS degree,
           CAST(COALESCE(tri.n_tri, 0) AS BIGINT) AS n_triangles,
           ROUND(CASE WHEN deg.d >= 2
                 THEN CAST(2 * COALESCE(tri.n_tri, 0) AS DOUBLE)
                      / (deg.d * (deg.d - 1))
                 ELSE 0.0 END, 6) AS clustering_coeff
    FROM deg LEFT JOIN tri ON tri.v = deg.v
    ORDER BY brand
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCAL CLUSTERING COEFFICIENT per node — 'how much of my
    neighborhood knows each other': lcc(v) = 2·T(v) / (d(v)(d(v)−1)),
    the per-node refinement of the global triangle count
    (graph_triangle_count) and the standard community-structure
    diagnostic next to modularity. Triangles per vertex are
    graph.triangle_count (each triangle found EXACTLY once by the
    oriented a<b<c join, then credited to all three corners),
    left-joined onto the degrees of the symmetrized edge list (0 for a
    vertex in no triangle). All integer until the single closed-form
    division (exact int/int in doubles, identical both engines), 6-dp
    round.

    Scale: the edges are _brand_pairs (Exchange-free self-join); the
    triangle joins run over the PROJECTED |brand|²-bounded edge list,
    never the fact table. The brand graph is tiny by design — the
    shape (oriented edge join + corner credit) is the one that
    scales."""
    # Feeds degrees and the triangle count.
    e = materialize(_brand_pairs(spark, sf_dir).select("lo", "hi"), eager=False)
    deg = graph.symmetrize(e, "lo", "hi").groupBy(F.col("src").alias("brand")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    tri = graph.triangle_count(e, "lo", "hi").withColumnRenamed("id", "brand")
    n_tri = F.coalesce(F.col("n_triangles"), F.lit(0))
    return (
        deg.join(tri, "brand", "left")
        .select(
            "brand",
            "degree",
            n_tri.alias("n_triangles"),
            F.round(
                F.when(
                    F.col("degree") >= 2,
                    (2 * n_tri).cast("double")
                    / (F.col("degree") * (F.col("degree") - 1)),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("clustering_coeff"),
        )
        .orderBy("brand")
    )


def _all_pairs_brand_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs shortest distances over the projected brand graph —
    frontier-wavefront BFS as a driver loop of DataFrame steps,
    depth-capped at 8 on BOTH engines (the co-occurrence graph's
    diameter is 2-3; the shared cap keeps the two sides identical even
    if it weren't). Edges are both directions of _brand_pairs, so the
    candidate self-join is Exchange-free and each BFS level shuffles
    only frontier×edges — |brand|²-bounded, never the fact table (held
    at 10× brands in SCALE.md §r11). Returns (src, dst, d) for every
    reachable ordered pair."""
    edges = materialize(
        graph.symmetrize(_brand_pairs(spark, sf_dir), "lo", "hi"), eager=True
    )
    return _bfs_all_pairs(edges)


def _bfs_all_pairs(edges: DataFrame) -> DataFrame:
    """Frontier-wavefront BFS from every vertex over a directed,
    distinct, checkpointed (src, dst) edge frame (depth cap 8 — shared
    with every oracle's recursive CTE). Shared by
    graph_harmonic_closeness (full projected edges) and
    graph_avg_path_length (weight-thresholded backbone), on
    graph.bfs_levels. Returns (src, dst, d)."""
    step = edges.select(F.col("src").alias("mid"), F.col("dst").alias("nxt"))

    def expand(frontier: DataFrame, depth: int) -> DataFrame:
        return (
            frontier.join(step, frontier.dst == step.mid)
            .select("src", F.col("nxt").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .withColumn("d", F.lit(depth))
        )

    seed = edges.withColumn("d", F.lit(1))
    return graph.bfs_levels(seed, expand, keys=["src", "dst"], depths=range(2, 9))


# The shared backbone CTE prefix (ob -> bp -> ranked -> kept -> e) —
# textually identical in every backbone oracle so the two engines cut
# the same edge set.
_BACKBONE_SQL = f"""{_BRAND_PAIRS_SQL},
    ranked AS (
      SELECT lo AS ba, hi AS bb,
             row_number() OVER (ORDER BY w DESC, lo, hi) AS rk,
             COUNT(*) OVER () AS ne
      FROM bp),
    kept AS (SELECT ba, bb FROM ranked WHERE rk <= (ne * 2) // 5),
    e AS MATERIALIZED (
      SELECT ba, bb FROM kept UNION ALL SELECT bb AS ba, ba AS bb FROM kept)"""


def _bfs_sigma(edges: DataFrame) -> DataFrame:
    """Level-synchronous all-pairs BFS carrying SHORTEST-PATH COUNTS
    (Brandes' sigma): at depth k, sigma(src, v) = sum of sigma(src, u)
    over frontier predecessors u at depth k-1 with an edge u->v —
    the anti-join against settled pairs keeps exactly the vertices
    first reached at depth k, so the grouped sum counts precisely the
    shortest paths (depth cap 8, shared with every oracle's DP).
    Returns (src, dst, d, sg) for every reachable ordered pair.
    Sibling of _bfs_all_pairs with per-level aggregation instead of
    distinct, on graph.bfs_levels."""
    step = edges.select(F.col("src").alias("mid"), F.col("dst").alias("nxt"))

    def expand(frontier: DataFrame, depth: int) -> DataFrame:
        return (
            frontier.join(step, frontier.dst == step.mid)
            .select("src", F.col("nxt").alias("dst"), "sg")
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.sum("sg").cast("bigint").alias("sg"))
            .withColumn("d", F.lit(depth))
        )

    seed = edges.select(
        "src", "dst", F.lit(1).alias("d"), F.lit(1).cast("bigint").alias("sg")
    )
    return graph.bfs_levels(seed, expand, keys=["src", "dst"], depths=range(2, 9))


def _betweenness_oracle() -> str:
    """Generate the DuckDB oracle: the shared backbone prefix, the
    recursive-CTE distances (graph_avg_path_length's technique), a
    CHAINED non-recursive sigma DP over the distance layers (DuckDB
    disallows aggregates in a recursive member, so levels 2..8 are
    spelled as successive CTEs — each joins the previous level with
    the edge list and keeps only pairs AT that distance), then the
    pair-splitting triple join."""
    sig_ctes, ap_parts = [], [
        "SELECT src, dst, 1 AS d, CAST(1 AS BIGINT) AS sg FROM sg1"
    ]
    for k in range(2, 9):
        sig_ctes.append(f"""sg{k} AS MATERIALIZED (
      SELECT p.src, e.bb AS dst, CAST(SUM(p.sg) AS BIGINT) AS sg
      FROM sg{k - 1} p JOIN e ON e.ba = p.dst
      JOIN sp ON sp.src = p.src AND sp.dst = e.bb AND sp.d = {k}
      GROUP BY p.src, e.bb)""")
        ap_parts.append(f"SELECT src, dst, {k} AS d, sg FROM sg{k}")
    sig_sql = ",\n    ".join(sig_ctes)
    ap_sql = "\n      UNION ALL ".join(ap_parts)
    return f"""
    WITH RECURSIVE {_BACKBONE_SQL},
    walk(src, dst, d) AS (
      SELECT ba, bb, 1 FROM e
      UNION
      SELECT w.src, e.bb, w.d + 1
      FROM walk w JOIN e ON e.ba = w.dst
      WHERE w.d < 8 AND e.bb <> w.src),
    sp AS MATERIALIZED (
      SELECT src, dst, MIN(d) AS d FROM walk GROUP BY src, dst),
    sg1 AS MATERIALIZED (
      SELECT ba AS src, bb AS dst, CAST(1 AS BIGINT) AS sg FROM e),
    {sig_sql},
    ap AS MATERIALIZED ({ap_sql}),
    bt AS (
      SELECT sv.dst AS v,
             CAST(SUM(sv.sg * vt.sg) AS BIGINT) AS stress,
             CAST(SUM((1000000 * sv.sg * vt.sg) // st.sg) AS BIGINT)
               AS betweenness_micro
      FROM ap sv
      JOIN ap vt ON vt.src = sv.dst
      JOIN ap st ON st.src = sv.src AND st.dst = vt.dst
      WHERE sv.src <> vt.dst AND sv.d + vt.d = st.d
      GROUP BY sv.dst),
    nodes AS (SELECT DISTINCT ba AS v FROM e)
    SELECT n.v AS brand,
           CAST(COALESCE(bt.stress, 0) AS BIGINT) AS stress,
           CAST(COALESCE(bt.betweenness_micro, 0) AS BIGINT)
             AS betweenness_micro
    FROM nodes n LEFT JOIN bt ON bt.v = n.v
    ORDER BY betweenness_micro DESC, brand
    """


@register("graph_betweenness_backbone", oracle=_betweenness_oracle())
def graph_betweenness_backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BETWEENNESS + STRESS CENTRALITY on the brand backbone — the
    last classic distance-family centrality (VERDICT r11 #2),
    Brandes-style via the pair-splitting identity: sigma_st(v) =
    sigma_sv * sigma_vt when d(s,v) + d(v,t) = d(s,t), else 0. So
    stress(v) = SUM sigma_st(v) (Shimbel's stress — how many
    shortest co-occurrence routes PASS THROUGH this brand) and
    betweenness(v) = SUM sigma_st(v)/sigma_st (the broker score a
    merchandiser reads as 'which mid-tail brand bridges otherwise
    separate bundles'); both summed over ORDERED (s,t) pairs,
    s != v != t. Computed from ONE all-pairs BFS that carries path
    COUNTS per level (_bfs_sigma) plus a triple self-join of the
    |brand|²-bounded (src,dst,d,sg) pair frame — no per-source
    dependency accumulation pass is needed when the pair frame fits
    a frame, which it does by the projection bound.

    Exactness: path counts are exact BIGINTs from the level DP; each
    betweenness term rides truncating integer micro-units
    (1e6*sg_sv*sg_vt) div sg_st — integer-division-parity-safe, no
    float reaches the hash; zero-betweenness vertices are restored
    by a left join against the node list (the rich-club r11
    empty-frame lesson). The oracle recomputes distances with the
    shared recursive CTE and sigma with a chained 7-level DP.

    Scale: BFS and the triple join live on the top-40% weighted
    backbone of _brand_pairs (_backbone_edges) — the triple join is
    |pairs| * degree bounded inside |brand|³, KB-scale state at 10×
    brands (SCALE.md §r11 decade row), never fact-sized. Probed
    non-degenerate at all driver SFs (stress > 0 for interior
    backbone vertices; the COMPLETE raw projection would zero it,
    which is why the backbone is the measurement frame)."""
    return _pair_split_centrality(_backbone_edges(spark, sf_dir))


def _pair_split_centrality(edges: DataFrame) -> DataFrame:
    """stress + betweenness_micro per vertex of a bidirectional,
    distinct, checkpointed edge frame via the pair-splitting triple
    join over _bfs_sigma's (src, dst, d, sg) pairs. Factored out of
    graph_betweenness_backbone so tests drive it on crafted graphs
    with hand-computable centralities."""
    ap = _bfs_sigma(edges)
    sv, vt, st = ap.alias("sv"), ap.alias("vt"), ap.alias("st")
    terms = (
        sv.join(vt, F.col("sv.dst") == F.col("vt.src"))
        .filter(F.col("sv.src") != F.col("vt.dst"))
        .join(
            st,
            (F.col("st.src") == F.col("sv.src"))
            & (F.col("st.dst") == F.col("vt.dst"))
            & (F.col("sv.d") + F.col("vt.d") == F.col("st.d")),
        )
    )
    bt = terms.groupBy(F.col("sv.dst").alias("brand")).agg(
        F.sum(F.col("sv.sg") * F.col("vt.sg")).cast("bigint").alias("stress"),
        F.sum(F.expr("(1000000 * sv.sg * vt.sg) div st.sg"))
        .cast("bigint")
        .alias("betweenness_micro"),
    )
    nodes = edges.select(F.col("src").alias("brand")).distinct()
    return (
        nodes.join(bt, "brand", "left")
        .select(
            "brand",
            F.coalesce(F.col("stress"), F.lit(0)).cast("bigint").alias("stress"),
            F.coalesce(F.col("betweenness_micro"), F.lit(0))
            .cast("bigint")
            .alias("betweenness_micro"),
        )
        .orderBy(F.col("betweenness_micro").desc(), "brand")
    )


@register(
    "graph_harmonic_closeness",
    oracle=f"""
    WITH RECURSIVE {_BRAND_PAIRS_SQL},
    e AS (SELECT lo AS ba, hi AS bb FROM bp UNION ALL SELECT hi, lo FROM bp),
    walk(src, dst, d) AS (
      SELECT ba, bb, 1 FROM e
      UNION
      SELECT w.src, e.bb, w.d + 1
      FROM walk w JOIN e ON e.ba = w.dst
      WHERE w.d < 8 AND e.bb <> w.src),
    sp AS (SELECT src, dst, MIN(d) AS d FROM walk GROUP BY src, dst)
    SELECT src AS brand,
           CAST(COUNT(*) AS BIGINT) AS n_reachable,
           CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_micro
    FROM sp GROUP BY src
    ORDER BY harmonic_micro DESC, brand
    """,
)
def graph_harmonic_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARMONIC CLOSENESS CENTRALITY per node — Σ_{v≠u} 1/d(u,v), the
    disconnection-safe closeness variant (unreachable pairs contribute
    0 instead of poisoning the mean): 'which brand sits nearest to all
    others in the co-occurrence graph', the centrality a merchandising
    or recommendation layer ranks hubs by, complementing the
    volume-based HITS/PageRank scores with a pure distance readout.
    Distances come from ALL-PAIRS frontier BFS as a driver loop of
    DataFrame steps over the projected brand graph (depth-capped at 8
    on BOTH engines — the co-occurrence graph's diameter is 2-3, and
    the shared cap keeps the two sides identical even if it weren't);
    scores are INTEGER micro-units (1000000 div d — truncating
    division, pinned identical across engines in r10), so the hash
    never sees a float.

    Scale: the BFS runs on the PROJECTED |brand|²-bounded edge list
    of _brand_pairs (the candidate self-join is Exchange-free), never
    the fact table; each level shuffles only frontier×edges. On a big
    graph this is the same wavefront shape as operators/graph.py's
    bfs_distances, sharded by source vertex."""
    reach = _all_pairs_brand_distances(spark, sf_dir)
    return (
        reach.groupBy(F.col("src").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_reachable"),
            F.sum(F.expr("1000000 div d")).cast("bigint").alias("harmonic_micro"),
        )
        .orderBy(F.col("harmonic_micro").desc(), "brand")
    )


@register(
    "graph_weighted_assortativity",
    oracle=f"""
    WITH {_BRAND_PAIRS_SQL},
    e AS (
      SELECT lo AS ba, hi AS bb, w FROM bp
      UNION ALL SELECT hi, lo, w FROM bp),
    st AS (SELECT ba AS v, CAST(SUM(w) AS BIGINT) AS s FROM e GROUP BY ba),
    ed AS (
      SELECT e.w, sa.s AS x, sb.s AS y
      FROM e JOIN st sa ON sa.v = e.ba JOIN st sb ON sb.v = e.bb),
    m AS (
      SELECT CAST(SUM(CAST(w AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sw,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS swx,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x * y) AS DECIMAL(38,0)) AS swxy,
             CAST(SUM(CAST(w AS DECIMAL(38,0)) * x * x) AS DECIMAL(38,0)) AS swxx
      FROM ed)
    SELECT CAST(sw AS BIGINT) AS total_weight,
           ROUND(CAST(sw * swxy - swx * swx AS DOUBLE)
                 / CAST(sw * swxx - swx * swx AS DOUBLE), 6)
             AS assortativity
    FROM m
    """,
)
def graph_weighted_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED DEGREE ASSORTATIVITY of the brand co-occurrence graph —
    Newman's r over the edge-weight distribution: the weight-weighted
    Pearson correlation of endpoint STRENGTHS (sum of incident
    co-occurrence weights), answering "do heavily-bought-together
    brands pair with other heavy brands?". The UNWEIGHTED variant is
    degenerate here by construction — the projected brand graph is
    complete (every brand pair co-occurs somewhere), so plain degrees
    are constant and their variance is zero; weights carry all the
    structure, the same reason modularity_score works on weights. By
    the symmetry of the doubled edge list the x and y moments
    coincide, so r = (W·Σwxy − (Σwx)²) / (W·Σwx² − (Σwx)²) — every
    moment an exact DECIMAL(38,0) sum of integer products (strengths
    reach ~1e6 at sf0.1, cubes ~1e18 — past BIGINT, inside
    DECIMAL(38,0) with room), one double division at presentation.

    Scale: strengths and the weighted edge list are both directions of
    _brand_pairs (Exchange-free self-join; the weight of (a, b) is the
    weight of (b, a)); the moment aggregate is one
    map-side-combinable pass over |brand|²-bounded edges. The fact
    table never moves."""
    # Feeds strengths and the moment pass.
    e = materialize(
        _weighted_sym(_brand_pairs(spark, sf_dir)).toDF("ba", "bb", "w"), eager=False
    )
    st = e.groupBy(F.col("ba").alias("v")).agg(F.sum("w").cast("bigint").alias("s"))
    ed = (
        e.join(st.select(F.col("v").alias("ba"), F.col("s").alias("x")), "ba")
        .join(st.select(F.col("v").alias("bb"), F.col("s").alias("y")), "bb")
        .select("w", "x", "y")
    )
    wd = F.col("w").cast("decimal(38,0)")
    m = ed.agg(
        F.sum(wd).cast("decimal(38,0)").alias("sw"),
        F.sum(wd * F.col("x")).cast("decimal(38,0)").alias("swx"),
        F.sum(wd * F.col("x") * F.col("y")).cast("decimal(38,0)").alias("swxy"),
        F.sum(wd * F.col("x") * F.col("x")).cast("decimal(38,0)").alias("swxx"),
    )
    return m.select(
        F.col("sw").cast("bigint").alias("total_weight"),
        F.round(
            (F.col("sw") * F.col("swxy") - F.col("swx") * F.col("swx")).cast(
                "double"
            )
            / (F.col("sw") * F.col("swxx") - F.col("swx") * F.col("swx")).cast(
                "double"
            ),
            6,
        ).alias("assortativity"),
    )


def _backbone_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional edge frame of the brand graph's top-40% WEIGHTED
    BACKBONE (rank <= (|E|*2) div 5 by (weight desc, pair)) — the
    standard backbone-extraction step before any distance analysis of
    the projection, because the RAW projected brand graph is COMPLETE
    at every driver SF (r10/r11 probes: every distance metric
    degenerates to a constant on it), cut from _brand_pairs. Shared by
    graph_avg_path_length and graph_betweenness_backbone; checkpointed
    so the BFS driver loops iterate a settled frame."""
    from pyspark.sql import Window as W

    e0 = _brand_pairs(spark, sf_dir).toDF("ba", "bb", "w")
    ranked = e0.select(
        "ba",
        "bb",
        F.row_number()
        .over(W.orderBy(F.col("w").desc(), "ba", "bb"))
        .alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("ne"),
    )
    kept = ranked.filter(F.col("rk") <= F.expr("(ne * 2) div 5")).select(
        "ba", "bb"
    )
    return materialize(
        kept.select(F.col("ba").alias("src"), F.col("bb").alias("dst"))
        .unionByName(
            kept.select(F.col("bb").alias("src"), F.col("ba").alias("dst"))
        ),
        eager=True,
    )


@register(
    "graph_avg_path_length",
    oracle=f"""
    WITH RECURSIVE {_BACKBONE_SQL},
    walk(src, dst, d) AS (
      SELECT ba, bb, 1 FROM e
      UNION
      SELECT w.src, e.bb, w.d + 1
      FROM walk w JOIN e ON e.ba = w.dst
      WHERE w.d < 8 AND e.bb <> w.src),
    sp AS (SELECT src, dst, MIN(d) AS d FROM walk GROUP BY src, dst)
    SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS n_nodes,
           CAST(COUNT(*) AS BIGINT) AS n_pairs_reachable,
           CAST(MAX(d) AS BIGINT) AS diameter,
           CAST(SUM(d) AS BIGINT) AS sum_dist,
           ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*), 6) AS avg_path_len
    FROM sp
    """,
)
def graph_avg_path_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHARACTERISTIC PATH LENGTH + DIAMETER of the brand graph's
    weighted BACKBONE — the global small-world readout next to the
    per-node centralities: mean shortest-path distance over all
    reachable ordered pairs, and the longest shortest path. Distances
    are measured on the top-40% strongest co-occurrence edges
    (rank <= (|E|*2) div 5 by (weight desc, pair)), the standard
    backbone-extraction step before any distance analysis of a
    projection — the RAW projected brand graph is COMPLETE at every
    driver SF (probed: diameter 1, APL exactly 1.0 — a degenerate
    constant, the same trap the unweighted assortativity hit in r10),
    while the backbone has real structure (diameter 2-3, APL
    1.43-1.58 across SFs).

    Exactness: the backbone cut uses a total (weight, pair) order and
    integer-division-parity-safe (|E|*2) div 5 on both engines;
    distances come from the shared depth-capped frontier BFS
    (_bfs_all_pairs, the harmonic-closeness machinery);
    sum/max/count are exact BIGINTs and ONE double division yields
    the mean (6-dp round).

    Scale: the edge ranking and BFS live on the |brand|²-bounded
    projection _brand_pairs (_backbone_edges); the global aggregate
    collapses |brand|² reach rows to one — the projection consumers are
    measured at 10× brands in SCALE.md §r11 (shuffles stay KB)."""
    reach = _bfs_all_pairs(_backbone_edges(spark, sf_dir))
    return reach.agg(
        F.countDistinct("src").cast("bigint").alias("n_nodes"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs_reachable"),
        F.max("d").cast("bigint").alias("diameter"),
        F.sum("d").cast("bigint").alias("sum_dist"),
        F.round(
            F.sum("d").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_path_len"),
    )


@register(
    "graph_rich_club_weighted",
    oracle=f"""
    WITH {_BRAND_PAIRS_SQL},
    e AS (SELECT lo AS ba, hi AS bb, w FROM bp),
    st AS (
      SELECT v, CAST(SUM(w) AS BIGINT) AS s FROM (
        SELECT ba AS v, w FROM e UNION ALL SELECT bb AS v, w FROM e)
      GROUP BY v),
    rich AS (
      SELECT v FROM (
        SELECT v, row_number() OVER (ORDER BY s DESC, v) AS rk,
               COUNT(*) OVER () AS n
        FROM st)
      WHERE rk <= (n + 4) // 5),
    re AS (
      SELECT e.w FROM e
      JOIN rich ra ON ra.v = e.ba JOIN rich rb ON rb.v = e.bb),
    cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS e_rich,
                   CAST(COALESCE(SUM(w), 0) AS BIGINT) AS w_rich
            FROM re),
    ranked AS (
      SELECT w, row_number() OVER (ORDER BY w DESC, ba, bb) AS rk FROM e),
    top AS (
      SELECT CAST(COALESCE(SUM(ranked.w), 0) AS BIGINT) AS w_top
      FROM ranked, cnt WHERE ranked.rk <= cnt.e_rich)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rich) AS n_rich,
           cnt.e_rich, cnt.w_rich, top.w_top,
           ROUND(CAST(cnt.w_rich AS DOUBLE) / top.w_top, 6) AS phi_w
    FROM cnt, top
    """,
)
def graph_rich_club_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED RICH-CLUB COEFFICIENT (Opsahl's phi_w) of the brand
    graph — do the strongest brands co-occur with EACH OTHER more
    than the weight distribution predicts? The club is the top 20%
    of brands by strength (sum of incident co-occurrence weights);
    phi_w = (weight inside the club) / (sum of the E_club strongest
    edge weights anywhere) — the weighted normalization that keeps
    the measure in [0,1] and comparable across graphs. The
    merchandising readout: phi_w → 1 means the head of the catalog
    is a closed clique (bundle them); low phi_w means strong brands
    spread their weight into the tail (cross-sell surface).

    Exactness: weights and strengths are exact BIGINT co-occurrence
    counts; club membership and the global edge ranking use total
    (key, name) orders; (n+4) div 5 is integer-division-parity-safe
    (r10 probe); ONE double division at presentation. The
    data-dependent cutoff E_club reaches the edge ranking through a
    one-row broadcast, not a correlated subquery.

    Scale: strengths and the edge ranking live on the |brand|²-bounded
    projection _brand_pairs; the rank windows run over |brand| and
    |brand|² frames (31k rows at 250 brands — SCALE.md §r11), never
    fact rows."""
    from pyspark.sql import Window as W

    # Feeds strengths and both rankings.
    e = materialize(_brand_pairs(spark, sf_dir).toDF("ba", "bb", "w"), eager=False)
    st = (
        e.select(F.col("ba").alias("v"), "w")
        .unionByName(e.select(F.col("bb").alias("v"), "w"))
        .groupBy("v")
        .agg(F.sum("w").cast("bigint").alias("s"))
    )
    ranked_nodes = st.select(
        "v",
        F.row_number().over(W.orderBy(F.col("s").desc(), "v")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    rich = ranked_nodes.filter(
        F.col("rk") <= F.expr("(n + 4) div 5")
    ).select("v")
    re = e.join(
        F.broadcast(rich.withColumnRenamed("v", "ba")), "ba"
    ).join(F.broadcast(rich.withColumnRenamed("v", "bb")), "bb")
    cnt = re.agg(
        F.count(F.lit(1)).cast("bigint").alias("e_rich"),
        F.coalesce(F.sum("w"), F.lit(0)).cast("bigint").alias("w_rich"),
    )
    ranked_edges = e.select(
        "w",
        F.row_number()
        .over(W.orderBy(F.col("w").desc(), "ba", "bb"))
        .alias("rk"),
    )
    # Global (groupBy-less) agg over the conditional sum so the frame
    # stays ONE row even when e_rich = 0 (rk <= 0 matches nothing): a
    # filter+groupBy here would yield ZERO groups while the DuckDB
    # oracle's aggregate `top` CTE still emits w_top = 0 — a latent
    # cross-engine mismatch on data sparser than the driver SFs
    # (ADVICE r11 #1; unreachable here because the brand projection
    # is complete, but pinned by test_rich_club_empty_club_one_row).
    w_top = (
        ranked_edges.crossJoin(F.broadcast(cnt.select("e_rich")))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rk") <= F.col("e_rich"), F.col("w"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("w_top")
        )
    )
    top = cnt.crossJoin(F.broadcast(w_top))
    n_rich = rich.agg(F.count(F.lit(1)).cast("bigint").alias("n_rich"))
    return (
        top.crossJoin(F.broadcast(n_rich))
        .select(
            "n_rich",
            "e_rich",
            "w_rich",
            "w_top",
            F.round(
                F.col("w_rich").cast("double") / F.col("w_top"), 6
            ).alias("phi_w"),
        )
    )
