"""The registry and vector-search verdict contracts: ``_REGISTRY`` is
read and written only in ``registry.py`` (queries pass their oracle to
``@register``, nothing rewrites a spec after import), and
``_recall_verdict`` flips ``recall_ok`` exactly at its floor."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "sales_agent_graphdb_spark"


def _registry_refs(path: Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text())):
        if (
            (isinstance(node, ast.Name) and node.id == "_REGISTRY")
            or (isinstance(node, ast.Attribute) and node.attr == "_REGISTRY")
        ):
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and any(
            a.name == "_REGISTRY" for a in node.names
        ):
            lines.append(node.lineno)
    return lines


def test_registry_named_only_in_registry_module():
    refs = {
        str(p.relative_to(PACKAGE)): lines
        for p in sorted(PACKAGE.rglob("*.py"))
        if (lines := _registry_refs(p))
    }
    assert set(refs) == {"registry.py"}, refs


def test_recall_verdict_flips_at_floor(spark):
    from sales_agent_graphdb_spark.queries.vector import _recall_verdict

    exact = spark.createDataFrame(
        [(i, 1.0 - i / 10) for i in (5, 1, 4, 2, 3)], "vec_id long, sim double"
    )
    floor = 3

    def verdict(overlap: int):
        ids = list(range(1, overlap + 1)) + list(range(100, 105 - overlap))
        approx = spark.createDataFrame([(i, 0.5) for i in ids], "vec_id long, sim double")
        out = _recall_verdict(exact, approx, floor, n_probed_cells=8, n_candidates=50)
        assert out.columns == ["exact_ids", "n_probed_cells", "n_candidates", "recall_ok"]
        (row,) = out.collect()
        assert (row.exact_ids, row.n_probed_cells, row.n_candidates) == ("1,2,3,4,5", 8, 50)
        return row.recall_ok

    assert verdict(floor - 1) is False
    assert verdict(floor) is True


# Queries that must answer the same DuckDB SQL as their twin: a stream
# run and its batch form, a prefiltered path and its exact path, the
# Arrow round-trip and the JVM path, an NL route and its scan, an ANN
# perf path and its portable name.
TWIN_ORACLES = [
    ("st_tumbling_window", "st_stream_tumbling_exec"),
    ("st_sliding_window", "st_stream_sliding_exec"),
    ("st_session_window", "st_stream_sessions_complete"),
    ("decontaminate_ngram_overlap", "decontaminate_bloom_prefilter"),
    ("mm_media_features", "mm_arrow_fidelity_probe"),
    ("s6_graph_scan_limit", "nl2plan_broad_scan"),
    ("s8_api_source_ingest", "s8b_api_stream_ingest"),
    ("ann_lsh_topk", "ann_lsh_topk_portable"),
    ("ann_ivf_topk", "ann_ivf_topk_portable"),
    ("ann_lsh_pruned_topk", "ann_lsh_pruned_portable"),
    ("ann_ivf_pruned_topk", "ann_ivf_pruned_portable"),
]


def test_twin_queries_share_one_oracle():
    from sales_agent_graphdb_spark.registry import all_queries

    specs = all_queries()
    differ = [(a, b) for a, b in TWIN_ORACLES if specs[a].oracle != specs[b].oracle]
    assert not differ, f"twin queries with different oracle text: {differ}"
