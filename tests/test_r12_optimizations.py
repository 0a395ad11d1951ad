"""Round-12 optimization pins: each test locks an equivalence the r12
performance work relies on — parsed-SQL literal construction vs
per-element F.lit columns, the Arrow sink's JSON bytes vs the old
row-iterator path, and the lazily-unioned BFS level frames vs a
brute-force reference."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

from sales_agent_graphdb_spark.operators.similarity import lit_vector

SF_SMALL = "/root/testdata/sf0.001"


def test_lit_vector_expr_is_bit_exact(spark):
    """The parsed array(...D) literal must reproduce the per-element
    F.lit doubles bit-for-bit, including awkward reprs (shortest
    round-trip, negative zero, subnormals, huge magnitudes)."""
    vals = [
        0.1,
        -0.0,
        1.5,
        -2.220446049250313e-16,
        6.02e23,
        5e-324,
        123456789.123456789,
        -1.0,
    ]
    row = spark.range(1).select(
        lit_vector(vals).alias("a"),
        F.array(*[F.lit(float(x)) for x in vals]).alias("b"),
    ).head()
    import math

    assert len(row.a) == len(row.b) == len(vals)
    for x, y in zip(row.a, row.b):
        # bit-exact: compare via repr (distinguishes -0.0 from 0.0)
        assert repr(x) == repr(y)
        assert math.copysign(1.0, x) == math.copysign(1.0, y)


def test_long_array_expr_matches_python_list(spark):
    """The decontaminate-style array(..L) literal (bit_or words can be
    negative when bit 63 is set) must round-trip exactly."""
    arr = [0, 1, -1, 2**63 - 1, -(2**63), 123456789012345678]
    col = F.expr("array(" + ",".join(f"{x}L" for x in arr) + ")")
    row = spark.range(1).select(col.alias("a")).head()
    assert list(row.a) == arr


def test_api_sink_arrow_writes_same_json_bytes(spark):
    """The DataSourceArrowWriter must emit byte-identical JSON lines to
    the old row-iterator path (json.dumps of schema-ordered dicts with
    shortest round-trip floats)."""
    from sales_agent_graphdb_spark.queries.sources_io import SCRATCH
    from sales_agent_graphdb_spark.sources.api_source import register_api_sink

    register_api_sink(spark)
    tgt = os.path.join(SCRATCH, "test_r12_api_sink")
    shutil.rmtree(tgt, ignore_errors=True)
    os.makedirs(tgt, exist_ok=True)
    df = spark.createDataFrame(
        [(1, "a", 0.1), (2, "b", -0.0), (3, "c", 1e-320), (4, "d", 2349.05)],
        "event_id long, event_type string, value double",
    ).coalesce(1)
    df.write.format("api_sink").mode("append").option("path", tgt).save()
    with open(os.path.join(tgt, "_COMMITTED")) as f:
        manifest = json.load(f)
    assert sum(m["rows"] for m in manifest) == 4
    lines = []
    for m in manifest:
        with open(os.path.join(tgt, m["file"])) as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    expected = [
        json.dumps({"event_id": 1, "event_type": "a", "value": 0.1}),
        json.dumps({"event_id": 2, "event_type": "b", "value": -0.0}),
        json.dumps({"event_id": 3, "event_type": "c", "value": 1e-320}),
        json.dumps({"event_id": 4, "event_type": "d", "value": 2349.05}),
    ]
    assert sorted(lines) == sorted(expected)
    shutil.rmtree(tgt, ignore_errors=True)


def _brute_force_bfs(edges: list[tuple[str, str]], cap: int = 8):
    """All-pairs hop distances over a directed edge list (depth <= cap)."""
    from collections import defaultdict, deque

    adj = defaultdict(list)
    nodes = set()
    for s, d in edges:
        adj[s].append(d)
        nodes.add(s)
        nodes.add(d)
    out = {}
    for src in nodes:
        seen = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            if seen[u] >= cap:
                continue
            for v in adj[u]:
                if v not in seen:
                    seen[v] = seen[u] + 1
                    dq.append(v)
        for dst, d in seen.items():
            if dst != src and d >= 1:
                out[(src, dst)] = d
    return out


def test_bfs_all_pairs_lazy_union_matches_bruteforce(spark):
    """_bfs_all_pairs after the r12 lazily-unioned-levels rewrite must
    return exactly the brute-force (src, dst, min-hops) set on a graph
    with cycles, a chain (multi-level frontier) and an unreachable
    island."""
    from sales_agent_graphdb_spark.queries.graphq import _bfs_all_pairs

    edges = [
        ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),  # chain
        ("e", "a"),                                       # cycle back
        ("b", "a"),                                       # 2-cycle
        ("x", "y"), ("y", "x"),                           # island
    ]
    e = spark.createDataFrame(edges, "src string, dst string").localCheckpoint(
        eager=True
    )
    got = {
        (r.src, r.dst): r.d
        for r in _bfs_all_pairs(e).collect()
    }
    assert got == _brute_force_bfs(edges)


def test_bfs_sigma_counts_shortest_paths(spark):
    """_bfs_sigma must carry exact shortest-path counts: a diamond
    (two equal-length paths) yields sigma=2 at the join vertex."""
    from sales_agent_graphdb_spark.queries.graphq import _bfs_sigma

    edges = [("s", "u"), ("s", "v"), ("u", "t"), ("v", "t"), ("t", "z")]
    e = spark.createDataFrame(edges, "src string, dst string").localCheckpoint(
        eager=True
    )
    rows = {(r.src, r.dst): (r.d, r.sg) for r in _bfs_sigma(e).collect()}
    assert rows[("s", "t")] == (2, 2)   # two shortest paths
    assert rows[("s", "z")] == (3, 2)   # both extend through t
    assert rows[("s", "u")] == (1, 1)
    assert rows[("u", "z")] == (2, 1)
