#!/usr/bin/env python
"""Runtime shuffle/spill metrics for representative headline queries.

Plan audits (tools/plan_audit.py) prove the plan SHAPE is right; this
probe proves the RUNTIME cost is right: after executing each query it
walks the final (post-AQE) physical plan and sums the SQLMetrics that
matter at 100 TB — shuffle bytes/records written and spill sizes — so
a shuffle that silently carries the whole corpus shows up as a number,
not a guess.

Usage: python tools/metrics_probe.py [sf_dir]
Prints one JSON line per query + a summary line; also appended
per-round to SCALE.md by hand when the numbers move.

Caveats: queries that localCheckpoint intermediate frames (the
iterative graph algorithms, the twice-consumed dedup frames) truncate
lineage, so only the post-checkpoint stages are counted — their
numbers are a floor, not a total. Final ORDER BY adds one range
Exchange to n_exchanges; that sort exists only for deterministic
driver output and would be dropped in production writes.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402
from sales_agent_graphdb_spark.session import get_spark  # noqa: E402

# Queries whose shuffle economics represent each operator family.
PROBED = [
    "flagship_revenue_by_brand",   # broadcast dim + one agg shuffle
    "sql_api_revenue_by_nation",   # 4-way join from SQL text
    "j2_order_nest_strform",       # join + collect_list group
    "dedup_minhash_lsh",           # band shuffle (skinny by design)
    "dedup_repeated_passages",     # md5-keyed segment shuffle
    "text_bm25_search",            # inverted-index posting shuffle
    "graph_connected_components",  # leaf contraction + driver union-find
    "graph_label_propagation",     # per-round O(|E|) join
    "ts_downsample_ohlc",          # single-exchange window+agg
    "ann_hard_negatives",          # broadcast hash join, no shuffle
    "vec_quantize_int8",           # map-side only — zero shuffle
    "m8_cdc_apply",                # latest-op window + keyed merge
    "graph_k_core",                # per-round degree agg (post-checkpoint floor)
    "corpus_shuffle_epoch",        # sharded permutation, no global sort
    "asof_join_nearest",           # one user-sharded two-direction window
    # Round 6 additions.
    "graph_k_core_fixpoint",       # loop-to-convergence peel (post-checkpoint floor)
    "w5_ntile_buckets",            # exact distributed ntile: range+pid exchanges
    "dq_drift_chi_square",         # |types|-row agg shuffle only
    "sql_api_window_topn",         # SQL text -> hash-partitioned window
    "tpch_q1_pricing_summary",     # scan-dominated: only group partials move
    "tpch_q5_local_supplier_volume",  # 6-way join: facts keyed once, dims broadcast
    # Round 7 additions.
    "tpch_q21_waiting_supplier",   # semi+anti stack on one fact flow
    "tpch_q8_market_share",        # 8-way star, role-playing nation dim
    "dpp_partition_pruned",        # runtime-pruned scan: 3/83 partitions
    "sql_api_lateral_topk",        # lateral LIMIT -> WindowGroupLimit pre-prune
    # Round 8 additions (VERDICT r08 #6a: the probe table stopped at
    # the r06/r07 families; these are the r08 families whose shuffle
    # economics carry the 100 TB claims).
    "ann_pq_adc_topk",             # PQ ADC: code-column scan, top-C shuffle only
    "decontaminate_bloom_prefilter",  # bit-test BEFORE the shuffle; bloom is broadcast
    "graph_modularity_score",      # okey-keyed pair join (Σ basket², never |nodes|²)
    "graph_node_jaccard",          # same projection; degrees broadcast
    "agg_bitmap_distinct",         # word-packed state: bits move, not ids
    "sample_weighted_reservoir",   # one keyed top-k pass, no global sort
    "sessionize_gap_batch",        # user-sharded window, single exchange
    "vec_binary_hamming_topk",     # map-side XOR+popcount, top-k only
    # Round 9 additions.
    "stats_roc_auc",               # score-histogram AUC: |scores|-row shuffle only
    "ts_interval_union_coverage",  # one user-keyed window, no interval self-join
    "agg_spacesaving_topk",        # MG summaries: k·partitions rows move, not keys
    "graph_resource_allocation",   # bucketed layout: pair agg shuffle only
    # Round 10 additions.
    "stats_ks_two_sample",         # |distinct cents|-row histogram shuffle only
    "ts_gap_fill_linear",          # hourly-aggregate shuffle, spine generated
    "dq_benford_first_digit",      # 9-digit group partials only
    "graph_harmonic_closeness",    # BFS frontiers over the projected brand graph
    "stats_cuped_variance_reduction",  # two map-side agg levels, one moments row
    "ts_cusum_changepoint",        # one series-sharded window pass (sessionize exchange)
    "graph_weighted_assortativity",  # moment pass over the bucketed projection
    "sample_balanced_class",       # label-sharded rank window, one-row min broadcast
    "ts_rolling_regression_slope",  # hourly-aggregate exchange, 5 frame sums in one pass
    "stats_power_analysis",        # two map-side moment rows; shuffle ≈ 2 rows (ADVICE r10)
    # Round 11 additions.
    "stats_mann_whitney_u",        # |distinct cents| histogram partials + one-row totals
    "stats_gini_concentration",    # |customers| aggregated rows into the rank window
    "stats_bootstrap_ci_hash",     # B×partials from one explode; 20 replica means
    "ts_var_expected_shortfall",   # per-(series, cents) histogram into series shards
    "ts_acf_hourly",               # hourly-aggregate collapse; |hours| rows per lag join
    "eval_ndcg_at_k",              # top-k scored scan + one-row relevant count
    "graph_avg_path_length",       # backbone rank + BFS over projected edges (KB)
    "graph_rich_club_weighted",    # strength/edge rank windows over |brand|² frame
    "curation_pareto_front",       # one exchange into the skyline window sort
    "st_stream_topk_maintain",     # k·|types| state rows per batch version
]

# SQLMetric map keys worth aggregating (camelCase internal names).
KEYS = {
    "shuffleBytesWritten": "shuffle_bytes_written",
    "shuffleRecordsWritten": "shuffle_records_written",
    "spillSize": "spill_bytes",
}


def _iter_nodes(node, seen=None):
    # Dedupe on the SparkPlan node id: AQE plans are DAGs (a
    # ReusedExchangeExec points at a ShuffleExchangeExec that is also
    # reachable through its own query stage), and yielding the same
    # physical node twice double-counts its SQLMetrics.
    if seen is None:
        seen = set()
    node_id = int(node.id())
    if node_id in seen:
        return
    seen.add(node_id)
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _iter_nodes(kids.apply(i), seen)
    # AQE wraps each materialized stage (Shuffle/Broadcast/Result
    # QueryStageExec) behind .plan(), and the adaptive root behind
    # .executedPlan() — children() alone sees none of them.
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _iter_nodes(node.executedPlan(), seen)
    elif name.endswith("QueryStageExec"):
        yield from _iter_nodes(node.plan(), seen)
    elif name == "ReusedExchangeExec":
        yield from _iter_nodes(node.child(), seen)


def collect_metrics(df) -> dict[str, int]:
    df.collect()  # materialize so SQLMetrics carry real values
    plan = df._jdf.queryExecution().executedPlan()
    agg: dict[str, int] = {
        "shuffle_bytes_written": 0,
        "shuffle_records_written": 0,
        "spill_bytes": 0,
        "n_exchanges": 0,
    }
    for node in _iter_nodes(plan):
        cls = node.getClass().getSimpleName()
        if "ShuffleExchange" in cls:
            agg["n_exchanges"] += 1
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            if key in KEYS:
                agg[KEYS[key]] += max(0, int(metric.value()))
    return agg


def _partition_row_counts(df) -> list[int]:
    """Rows per output partition of ``df`` AS JOINED — spark_partition_id
    is evaluated before the counting groupBy's own exchange, so the
    counts describe the join's reducer layout, not the count's."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy(F.spark_partition_id().alias("pid"))
        .count()
        .collect()
    )
    return sorted((int(r["count"]) for r in rows), reverse=True)


def skew_ab(sf_dir: str) -> int:
    """A/B the salted join against the plain shuffle join under a
    planted hot key (VERDICT r05 #4): 30% of lineitem rows are remapped
    to one part key, then joined to the part dim with broadcast OFF and
    AQE OFF — the regime where only explicit salting can help (AQE's
    skew split stays on in production sessions; it is disabled here so
    the probe measures salting itself, not AQE). Reports rows landing
    on the largest reducer partition for both forms; the collapse of
    max-partition share is the salting benefit."""
    import time

    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark.operators.skew import (
        salted_join,
        salted_join_hot_keys,
    )

    spark = get_spark(
        app_name="skew_ab_probe",
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    part = spark.read.parquet(os.path.join(sf_dir, "part.parquet")).select(
        "p_partkey", "p_brand"
    )
    hot = 42  # an existing p_partkey; ~30% of fact rows collapse onto it
    fact = li.select(
        F.when(
            F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(10)) < 3,
            F.lit(hot),
        )
        .otherwise(F.col("l_partkey"))
        .alias("p_partkey"),
        "l_extendedprice",
    )
    out = {}
    for form, join_fn in (
        ("plain", lambda: fact.join(part, "p_partkey")),
        ("salted", lambda: salted_join(fact, part, "p_partkey", n_salts=8)),
        ("salted_hot_keys", lambda: salted_join_hot_keys(
            fact, part, "p_partkey", n_salts=8, hot_frac=0.05)),
    ):
        t0 = time.monotonic()
        counts = _partition_row_counts(join_fn())
        wall = time.monotonic() - t0
        total = sum(counts)
        out[form] = {
            "max_partition_rows": counts[0],
            "median_partition_rows": counts[len(counts) // 2],
            "max_share": round(counts[0] / total, 4),
            "n_partitions": len(counts),
            "total_rows": total,
            "wall_sec": round(wall, 2),
        }
        print(json.dumps({"skew_ab": form, "sf_dir": sf_dir, **out[form]}))
    ratio = out["plain"]["max_partition_rows"] / max(
        1, out["salted"]["max_partition_rows"]
    )
    print(json.dumps({
        "summary": "skew_ab",
        "sf_dir": sf_dir,
        "max_partition_collapse": round(ratio, 2),
    }))
    return 0


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--skew-ab"]
    sf_dir = args[0] if args else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    if "--skew-ab" in sys.argv:
        return skew_ab(sf_dir)
    spark = get_spark(app_name="metrics_probe")
    qs = all_queries()
    out = {}
    for name in PROBED:
        spec = qs.get(name)
        if spec is None:
            continue
        m = collect_metrics(spec.fn(spark, sf_dir))
        out[name] = m
        print(json.dumps({"query": name, "sf_dir": sf_dir, **m}))
    total = sum(m["shuffle_bytes_written"] for m in out.values())
    spills = sum(m["spill_bytes"] for m in out.values())
    print(json.dumps({
        "summary": "metrics_probe",
        "sf_dir": sf_dir,
        "queries": len(out),
        "total_shuffle_bytes": total,
        "total_spill_bytes": spills,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
