"""The benchmark's workloads: which registered queries one client calls,
in a seeded order. Why each workload and query is here: perfbench/NOTES.md."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    # Seconds one warm pass takes at local[4]; the timed window runs
    # round(--seconds / pass_s) whole passes (at least one), so every
    # run makes the same calls and the tail percentile is fixed.
    pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "lookup_mix",
            (
                "nl2plan_category_browse",
                "nl2plan_fuzzy_name",
                "route_dispatch",
                "graph_2hop_neighbors",
                "g6_fulltext_fuzzy",
                "v1_knn_cosine_top5",
                "ann_ivf_pruned_topk",
                "tpch_q6_forecast_revenue",
            ),
            4.5,
        ),
        Workload(
            "batch_mix",
            (
                "graph_connected_components",
                "f11_chunk_documents",
                "st_stream_topk_maintain",
            ),
            7.0,
        ),
    )
}
