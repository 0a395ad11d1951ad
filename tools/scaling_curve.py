#!/usr/bin/env python
"""Scaling-curve evidence (VERDICT r06 #4): run the heaviest headline
queries at sf0.01 and sf0.1 (10x the rows) and report the wall-clock
and shuffle-bytes ratios against the 10x data ratio. Everything the
repo claims linear should measure ~linear (ratio <= ~10 modulo the
fixed per-query overhead that dominates small SFs and pushes ratios
BELOW data growth); anything super-linear gets a named cause or a fix.

Usage: python tools/scaling_curve.py [--queries a,b,c]
Prints one JSON line per query + a summary; the table in SCALE.md is
refreshed from this output per-round.

Methodology notes: both SFs run in ONE Spark session back-to-back
(same JVM warmup, same box), each query's frame is fully collected,
and shuffle bytes come from the post-AQE SQLMetrics
(tools/metrics_probe.py collect_metrics). localCheckpoint-ing queries
(iterative graph ops) count only post-checkpoint stages — their
shuffle numbers are floors, the wall number is complete.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from metrics_probe import collect_metrics  # noqa: E402

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402
from sales_agent_graphdb_spark.session import get_spark  # noqa: E402

# The heaviest headline entries (BENCH_r06 ordering) spanning the
# operator families whose scale behavior matters most: recursive SQL,
# Python-boundary sink, LSH dedup, iterative graph (x2), containment
# dedup, n-gram text, join+nest, DPP, and the big TPC-H join.
DEFAULT = [
    "sql_api_recursive_reachability",
    "s15_api_sink_roundtrip",
    "dedup_minhash_lsh",
    "graph_connected_components",
    "graph_k_core_fixpoint",
    "dedup_containment",
    "text_gopher_repetition",
    "j2_order_nest_strform",
    "dpp_partition_pruned",
    "tpch_q5_local_supplier_volume",
]

SFS = ("/root/testdata/sf0.01", "/root/testdata/sf0.1")

# --decade2 (VERDICT r07 #7): one more decade, sf0.1 -> synthetic
# ~10x (tools/gen_synth_decade.py), for the 5 heaviest families. The
# sf0.01->0.1 curve is overhead-dominated; this decade is the
# load-bearing one for the linearity claims. Perf-only data — the
# correctness oracles never run against it.
DECADE2 = [
    "graph_k_core_fixpoint",
    "dedup_containment",
    "dedup_minhash_lsh",
    "ann_ivf_pruned_topk",
    "range_join_interval_overlap",
    # r08 second wave: five more families over the same four synthetic
    # tables — the big TPC-H aggregate, the exact distributed ntile,
    # interval-join attribution, the bigram LM, and BM25 ranking.
    "tpch_q1_pricing_summary",
    "w5_ntile_buckets",
    "attr_multi_touch_credit",
    "text_lm_perplexity_filter",
    "text_bm25_search",
    # r08 continuation waves: the new data-sized families — gap
    # sessionization + streaks (events-sized windows), the entropy
    # filter (documents-sized explode), and the weighted median
    # (lineitem-sized sort-window).
    "sessionize_gap_batch",
    "w10_gaps_islands_streak",
    "text_entropy_filter",
    "pct_weighted_median",
    # r09 wave: the new data-sized families — histogram AUC (events-
    # sized aggregate, |scores|-bounded window), sweep-line interval
    # union (events-sized window), Misra-Gries (events-sized stream,
    # k·partitions state), RA link prediction (lineitem-sized pair join
    # over the shared bucketed layout), the MinHash estimator
    # calibration (documents-sized signatures + sampled verify), and
    # the keep-best-copy cluster window (documents-sized).
    "stats_roc_auc",
    "ts_interval_union_coverage",
    "agg_spacesaving_topk",
    "graph_resource_allocation",
    "dedup_minhash_estimate_accuracy",
    "curation_canonical_by_quality",
    # r11 wave: the new data-sized families — the rank two-sample test
    # and tail-risk pair (events-sized histograms), the 20-replica
    # bootstrap explode (the heaviest new line by construction), the
    # hourly ACF (calendar-collapse + lag self-join), the per-customer
    # Gini rank window, and the skyline window sort (documents-sized).
    "stats_mann_whitney_u",
    "stats_bootstrap_ci_hash",
    "stats_gini_concentration",
    "ts_var_expected_shortfall",
    "ts_acf_hourly",
    "curation_pareto_front",
]


# --decade3graph (VERDICT r10 #4): the shared brand projection and its
# consumers across a decade where |brand| ALSO grows — sfsynth1.0 (6M
# lineitem, 25 brands) -> sfsynth10.b250 (60M lineitem, 250 brands), so
# the projected edge space widens 300 -> 31,125 undirected pairs. The
# projection BUILD is timed separately (layouts dropped first so both
# sides build cold); the consumer rows then measure the query path over
# the warm bucketed layout, exactly like bench.py's WARM_FIRST split.
GRAPH3 = [
    "graph_brand_projection",
    "graph_modularity_score",
    "graph_clustering_coefficient",
    "graph_harmonic_closeness",
]


def main() -> int:
    names = DEFAULT
    sfs = SFS
    argv = sys.argv[1:]
    build_rows: list[dict] = []
    if argv and argv[0] == "--decade2":
        from gen_synth_decade import ensure

        names = DECADE2
        sfs = ("/root/testdata/sf0.1", ensure())
        argv = argv[1:]
    elif argv and argv[0] == "--decade3graph":
        import glob
        import shutil

        from gen_synth_decade import ensure, ensure_decade3

        from sales_agent_graphdb_spark.queries import graphq, sources_io

        names = GRAPH3
        sfs = (ensure(), ensure_decade3())
        argv = argv[1:]
        spark3 = get_spark(app_name="scaling_curve", shuffle_partitions=32)
        for sf_dir in sfs:
            tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
            for d in glob.glob(f"{sources_io.SCRATCH}/graph_ob/{tag}_*"):
                shutil.rmtree(d, ignore_errors=True)
            t0 = time.monotonic()
            n_pairs = graphq._order_brand_pairs(spark3, sf_dir).count()
            build_rows.append({
                "query": "projection_build(_order_brand_pairs)",
                "sf": tag,
                "wall_s": round(time.monotonic() - t0, 2),
                "ob_rows": n_pairs,
            })
            print(json.dumps(build_rows[-1]), flush=True)
    if len(argv) > 1 and argv[0] == "--queries":
        names = argv[1].split(",")
    specs = all_queries()
    spark = get_spark(app_name="scaling_curve", shuffle_partitions=32)
    rows = []
    import bench  # WARM_FIRST: queries whose first call builds a layout

    tags = [os.path.basename(d) for d in sfs]
    for name in names:
        spec = specs[name]
        rec: dict = {"query": name}
        for sf_dir in sfs:
            tag = os.path.basename(sf_dir)
            if name in bench.WARM_FIRST:
                # First call materializes a stamped layout/index at this
                # SF; run it untimed so wall_ratio measures the QUERY
                # path, not layout-build scaling (ADVICE r07 #4 —
                # mirrors bench.py's warm-first handling).
                spec.fn(spark, sf_dir).collect()
            t0 = time.monotonic()
            df = spec.fn(spark, sf_dir)
            m = collect_metrics(df)  # collects the frame
            wall = time.monotonic() - t0
            rec[f"{tag}_wall_s"] = round(wall, 2)
            rec[f"{tag}_shuffle_mb"] = round(m["shuffle_bytes_written"] / 1e6, 2)
        lo, hi = tags
        rec["wall_ratio"] = round(
            rec[f"{hi}_wall_s"] / max(rec[f"{lo}_wall_s"], 1e-9), 1
        )
        sm = rec[f"{lo}_shuffle_mb"]
        rec["shuffle_ratio"] = (
            round(rec[f"{hi}_shuffle_mb"] / sm, 1) if sm > 0.005 else None
        )
        rows.append(rec)
        print(json.dumps(rec), flush=True)
    worst = max(rows, key=lambda r: r["wall_ratio"])
    print(json.dumps({
        "summary": f"{tags[0]}->{tags[1]} is ~10x rows",
        "n_queries": len(rows),
        "max_wall_ratio": worst["wall_ratio"],
        "max_wall_query": worst["query"],
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
