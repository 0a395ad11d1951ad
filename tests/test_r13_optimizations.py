"""Round-13 optimization pins.

Each test pins an equivalence the r13 optimization round relies on:

1. The gram-dictionary pre-hash (md5 portable minhash family) produces
   BIT-IDENTICAL signatures to the old per-occurrence seed-explode
   form (lsh._signatures with portable=True).
2. The md5-family banded (id, band, bucket) rows (lsh._bands over
   lsh._signatures) equal the old collect_list/array_sort/array_join
   construction byte-for-byte; both families reject an n_bands that
   does not divide n_hashes.
3. The lazy-checkpoint + full-count convergence protocol (one driver
   action per round) leaves connected_components / bfs_distances /
   pagerank results identical to driver-side references, within a
   fixed job budget.
"""

from __future__ import annotations

import random
from pathlib import Path

import pyspark.sql.functions as F
import pytest

from sales_agent_graphdb_spark.operators import graph, lsh


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),
        (3, "the quick brown fox vaults over the lazy dog"),
        (4, "entirely different text with no overlap at all"),
        (5, "sales agents process product orders for brands"),
        (6, "sales agents process product orders for brands daily"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _old_minw(toks, n_hashes):
    """The pre-r13 shape: 16-way seed explode -> md5 per (occurrence,
    seed) -> (id, seed) min -> pivot to one wide row."""
    seeded = toks.select(
        "id",
        "g",
        F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])).alias("seed"),
    )
    minh = (
        seeded.select(
            "id", "seed", lsh._portable_hash(F.col("g"), F.col("seed")).alias("h")
        )
        .groupBy("id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    return minh.groupBy("id").agg(
        *[
            F.min(F.when(F.col("seed") == s, F.col("mh"))).alias(f"mh{s}")
            for s in range(n_hashes)
        ]
    )


def _new_minw(toks, n_hashes):
    """The r13 shape: hash once per DISTINCT gram, broadcast-attach,
    one grouped pass of partial mins."""
    gh = toks.select("g").distinct().select(
        "g",
        *[
            lsh._portable_hash(F.col("g"), F.lit(s)).alias(f"h{s}")
            for s in range(n_hashes)
        ],
    )
    return (
        toks.join(F.broadcast(gh), "g")
        .groupBy("id")
        .agg(*[F.min(F.col(f"h{s}")).alias(f"mh{s}") for s in range(n_hashes)])
    )


def test_gram_prehash_signatures_bit_identical(spark, docs):
    toks = lsh.shingle_tokens(docs, "text", "doc_id", 5).distinct()
    old = {r["id"]: tuple(r[f"mh{s}"] for s in range(16)) for r in _old_minw(toks, 16).collect()}
    new = {r["id"]: tuple(r[f"mh{s}"] for s in range(16)) for r in _new_minw(toks, 16).collect()}
    assert old == new
    assert len(old) == 6


def test_portable_banded_matches_old_construction(spark, docs):
    toks = lsh.shingle_tokens(docs, "text", "doc_id", 5).distinct()
    n_hashes, n_bands = 16, 4
    rows_per_band = n_hashes // n_bands
    # Old construction, verbatim from the pre-r13 operator.
    seeded = toks.select(
        "id",
        "g",
        F.explode(F.array(*[F.lit(i) for i in range(n_hashes)])).alias("seed"),
    )
    minh = (
        seeded.select(
            "id", "seed", lsh._portable_hash(F.col("g"), F.col("seed")).alias("h")
        )
        .groupBy("id", "seed")
        .agg(F.min("h").alias("mh"))
    )
    old = (
        minh.withColumn("band", F.expr(f"seed div {rows_per_band}").cast("int"))
        .groupBy("id", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                        lambda s: s["mh"].cast("string"),
                    ),
                    ",",
                )
            ).alias("bucket")
        )
    )
    new = lsh._bands(
        lsh._signatures(toks, n_hashes, portable=True), n_hashes, n_bands, portable=True
    )
    old_rows = sorted(tuple(r) for r in old.collect())
    new_rows = sorted(tuple(r) for r in new.collect())
    assert old_rows == new_rows
    assert len(new_rows) == 6 * n_bands


def test_portable_banded_rejects_indivisible_bands(spark, docs):
    """Both hash families share the banding step and its check."""
    toks = lsh.shingle_tokens(docs, "text", "doc_id", 5).distinct()
    for portable in (True, False):
        with pytest.raises(ValueError, match="multiple of n_bands"):
            lsh._bands(lsh._signatures(toks, 16, portable), 16, 5, portable)


def _union_find_components(edges, nodes=None):
    """Min-label union-find over long or string ids; null endpoints are
    not vertices. ``nodes`` defaults to every non-null endpoint."""
    if nodes is None:
        nodes = {x for e in edges for x in e if x is not None}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


# A path (long diameter — exercises several pointer-doubling rounds), a
# star, and an isolated self-contained pair.
_CC_EDGES = [(i, i + 1) for i in range(1, 10)] + [
    (20, 21),
    (20, 22),
    (20, 23),
    (30, 31),
]
_BFS_EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7), (8, 9)]


def test_connected_components_lazy_count_protocol(spark):
    nodes = sorted({x for e in _CC_EDGES for x in e})
    e = spark.createDataFrame(_CC_EDGES, ["src", "dst"])
    got = {r["id"]: r["component"] for r in graph.connected_components(e).collect()}
    assert got == _union_find_components(_CC_EDGES, nodes)


# String ids whose string order differs from their numeric order, and
# non-ASCII ids (UTF-8 byte order is code-point order).
_STRING_IDS = (
    [str(i) for i in range(1, 31)]
    + [f"Brand#{i}" for i in range(1, 31)]
    + ["z", "é", "Ω", "a b"]
)


def _random_edges(seed, kind):
    """Stars, paths, leaf-leaf pairs and a self-loop-only vertex, then
    self-loops, duplicate and reversed edges and random cross edges
    that merge some of them into larger cores."""
    rng = random.Random(seed)
    if kind == "long":
        pool = rng.sample(range(1, 1 << 40), 64)
    else:
        pool = rng.sample(_STRING_IDS, 64)
    fresh = iter(pool)
    edges = []
    for _ in range(3):
        hub = next(fresh)
        edges += [(hub, next(fresh)) for _ in range(rng.randint(2, 5))]
    for _ in range(2):
        path = [next(fresh) for _ in range(rng.randint(3, 7))]
        edges += list(zip(path, path[1:]))
    edges += [(next(fresh), next(fresh)) for _ in range(3)]
    loop = next(fresh)
    edges.append((loop, loop))
    used = sorted({x for e in edges for x in e})
    edges += [(v, v) for v in rng.sample(used, 3)]
    edges += rng.sample(edges, 4)
    edges += [(b, a) for a, b in rng.sample(edges, 3)]
    edges += [(rng.choice(used), rng.choice(used)) for _ in range(3)]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("bound", ["default", "zero"])
@pytest.mark.parametrize("kind", ["long", "string"])
def test_connected_components_matches_union_find(spark, monkeypatch, kind, bound):
    """Random graphs through both core paths: the driver finish at the
    default bound, the superstep loop at bound 0. The empty edge list
    has no vertices."""
    if bound == "zero":
        monkeypatch.setattr(graph, "_DRIVER_CORE", 0)
    schema = f"src {kind}, dst {kind}"
    for seed in (1, 2):
        edges = _random_edges(seed, kind)
        e = spark.createDataFrame(edges, schema)
        rows = graph.connected_components(e).collect()
        got = {r["id"]: r["component"] for r in rows}
        assert len(got) == len(rows)
        assert got == _union_find_components(edges), (seed, edges)
    assert graph.connected_components(spark.createDataFrame([], schema)).collect() == []


def test_bfs_distances_level_list_protocol(spark):
    e = spark.createDataFrame(_BFS_EDGES, ["src", "dst"])
    got = {r["id"]: r["distance"] for r in graph.bfs_distances(e, 1, max_depth=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 6: 2, 4: 3, 7: 3, 5: 4}


def _jobs_in_group(spark, group, action):
    """Spark jobs launched by ``action()`` (graph build + collect),
    counted through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_round_drivers_job_budget(spark, monkeypatch):
    """One driver action per round (graph.superstep, graph.bfs_levels):
    the job counts of bfs_distances and of connected_components's
    superstep path (bound 0) on the fixtures above may not exceed the
    measured 42 and 41 jobs (AQE stage jobs included, 8 shuffle
    partitions); a second action per round adds one job per round and
    fails this. connected_components at the default bound finishes its
    core on the driver in 7 jobs and runs no round at all."""
    cc = spark.createDataFrame(_CC_EDGES, ["src", "dst"])
    bfs = spark.createDataFrame(_BFS_EDGES, ["src", "dst"])
    n_cc = _jobs_in_group(
        spark, "budget:cc", lambda: graph.connected_components(cc).collect()
    )
    n_bfs = _jobs_in_group(
        spark, "budget:bfs", lambda: graph.bfs_distances(bfs, 1, max_depth=10).collect()
    )
    monkeypatch.setattr(graph, "_DRIVER_CORE", 0)
    n_cc_loop = _jobs_in_group(
        spark, "budget:cc_loop", lambda: graph.connected_components(cc).collect()
    )
    assert n_cc <= 7, n_cc
    assert n_cc_loop <= 41, n_cc_loop
    assert n_bfs <= 42, n_bfs


def test_minhash_cascade_job_budget(spark, docs):
    """The shared MinHash cascade runs the self-join schedule in both
    modes: survivors are checkpointed eagerly because the shingle-set
    builds and the final pair join read them concurrently. Budgets on
    the fixture above (xxhash64 family, 8 shuffle partitions): pairs
    mode at most the 13 jobs measured before the modes shared the
    cascade, join mode at most that 19 plus the one eager job."""
    batch = docs.filter("doc_id % 2 = 0")
    corpus = docs.filter("doc_id % 2 = 1")
    n_pairs = _jobs_in_group(
        spark, "budget:minhash_pairs", lambda: lsh.minhash_lsh_pairs(docs).collect()
    )
    n_join = _jobs_in_group(
        spark,
        "budget:minhash_join",
        lambda: lsh.minhash_lsh_join(batch, corpus).collect(),
    )
    assert n_pairs <= 13, n_pairs
    assert n_join <= 20, n_join


def test_pagerank_single_action_protocol(spark):
    # Reference: dense driver-side power iteration with the operator's
    # exact update rule (damping 0.85, dangling redistribution).
    edges = [(1, 2), (2, 3), (3, 1), (3, 4)]
    e = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["id"]: r["rank"] for r in graph.pagerank(e, n_iter=5).collect()}

    nodes = [1, 2, 3, 4]
    out = {1: [2], 2: [3], 3: [1, 4], 4: []}
    rank = {n: 1.0 for n in nodes}
    n = len(nodes)
    for _ in range(5):
        dangling = sum(rank[v] for v in nodes if not out[v])
        contrib = {v: 0.0 for v in nodes}
        for u in nodes:
            for v in out[u]:
                contrib[v] += rank[u] / len(out[u])
        rank = {
            v: 0.15 + 0.85 * (contrib[v] + dangling / n) for v in nodes
        }
    for v in nodes:
        assert got[v] == pytest.approx(rank[v], abs=1e-12)


def test_full_rcte_statement_engine_coverage(spark):
    """ADVICE r12: the registered sql_api_recursive_reachability now
    pre-materializes the edge CTEs, so the engine's
    non-recursive-CTE-referenced-from-recursive-step path (Spark
    re-evaluates those CTEs per iteration) is no longer exercised by
    any registered query. Keep the original single-statement
    WITH RECURSIVE text running through the engine here, and pin its
    equivalence to the optimized form at sf0.001."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.relational import (
        _SQL_RCTE,
        sql_api_recursive_reachability,
    )

    sf = "/root/testdata/sf0.001"
    catalog.load_table(spark, sf, "lineitem").createOrReplaceTempView(
        "rcte_cov_lineitem"
    )
    full = spark.sql(_SQL_RCTE.format(li="rcte_cov_lineitem"))
    opt = sql_api_recursive_reachability(spark, sf)
    assert sorted(tuple(r) for r in full.collect()) == sorted(
        tuple(r) for r in opt.collect()
    )


def test_reliable_checkpoint_switch(tmp_path):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT makes session.materialize write
    reliable checkpoints (VERDICT r12 #6) without patching the DataFrame
    class. Checkpoints from two modules (graph's superstep, lsh's
    md5-family MinHash cascade) must each write reliable files. Runs in
    a subprocess so the checkpoint directory is set on a fresh
    SparkContext."""
    import subprocess
    import sys as _sys

    ckdir = str(tmp_path / "ck")
    prog = f"""
import os, sys
sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
from sales_agent_graphdb_spark.session import get_spark
from sales_agent_graphdb_spark.operators import graph, lsh
spark = get_spark(app_name="reliable_ck", shuffle_partitions=4)
lc = type(spark.range(1)).localCheckpoint
assert lc.__module__.startswith("pyspark."), lc.__module__
ck = os.environ["SPARK_GRAFT_RELIABLE_CHECKPOINT"]

def rdd_dirs():
    return {{d for d, _, fs in os.walk(ck) if fs and "rdd-" in os.path.basename(d)}}

e = spark.createDataFrame([(1, 2), (2, 3), (8, 9)], ["src", "dst"])
got = {{r["id"]: r["component"] for r in graph.connected_components(e).collect()}}
assert got == {{1: 1, 2: 1, 3: 1, 8: 8, 9: 8}}, got
after_graph = rdd_dirs()
assert after_graph, "graph wrote no reliable checkpoint files under " + ck
docs = spark.createDataFrame(
    [(1, "the quick brown fox jumps over the lazy dog"),
     (2, "the quick brown fox jumps over the lazy dog!"),
     (3, "an entirely different sentence about spark")],
    ["doc_id", "text"],
)
pairs = [(r["id_a"], r["id_b"]) for r in lsh.minhash_lsh_pairs(docs, portable=True).collect()]
assert pairs == [(1, 2)], pairs
assert rdd_dirs() - after_graph, "lsh wrote no reliable checkpoint files under " + ck
print("RELIABLE_OK", len(rdd_dirs()))
"""
    env = {
        **__import__("os").environ,
        "SPARK_GRAFT_RELIABLE_CHECKPOINT": ckdir,
        "SPARK_GRAFT_CPUS": "4",
    }
    r = subprocess.run(
        [_sys.executable, "-c", prog], env=env, capture_output=True, text=True,
        timeout=600,
    )
    assert r.returncode == 0, r.stdout + r.stderr
    assert "RELIABLE_OK" in r.stdout


def test_basket_pair_expansion_equals_self_join(spark):
    """The per-basket HOF pair expansion equals the lineitem self-join +
    distinct; graph.co_occurrence_pairs weighs each pair by its matching
    row pairs, and graph.co_occurrence_edges (the co-purchase queries'
    edge build) yields both directions of the pair set. Data has
    duplicate (order, part) rows and singleton baskets."""
    li = spark.createDataFrame(
        [(1, 10), (1, 20), (1, 10), (1, 30), (2, 5), (2, 7), (3, 9),
         (4, 2), (4, 2)],
        ["l_orderkey", "l_partkey"],
    )
    a, b = li.alias("a"), li.alias("b")
    join_pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(F.col("a.l_partkey").alias("lo"), F.col("b.l_partkey").alias("hi"))
        .distinct()
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    hof_pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS lo, y AS hi))))"
                )
            ).alias("p")
        )
        .select("p.lo", "p.hi")
        .distinct()
    )
    assert sorted(tuple(r) for r in join_pairs.collect()) == sorted(
        tuple(r) for r in hof_pairs.collect()
    ) == [(5, 7), (10, 20), (10, 30), (20, 30)]
    # (1, 10) twice: each pair with part 10 matches two row pairs.
    weighted = graph.co_occurrence_pairs(li, "l_orderkey", "l_partkey")
    assert weighted.columns == ["lo", "hi", "w"]
    assert sorted(tuple(r) for r in weighted.collect()) == [
        (5, 7, 1), (10, 20, 2), (10, 30, 2), (20, 30, 1)
    ]
    sym = graph.co_occurrence_edges(li, "l_orderkey", "l_partkey")
    pairs = [(5, 7), (10, 20), (10, 30), (20, 30)]
    assert sorted(tuple(r) for r in sym.collect()) == sorted(
        pairs + [(hi, lo) for lo, hi in pairs]
    )
