"""Physical-plan audit over the ENTIRE query registry.

Builds every registered query's DataFrame at sf0.001, extracts the
executed plan, and tallies the operators that matter at 100 TB:
joins (broadcast / sort-merge / nested-loop / cartesian), shuffles,
top-k shortcuts, and Python-boundary operators (Arrow-batched vs
row-at-a-time). Writes PLANS.md — the repo-wide evidence behind
SCALE.md's per-query claims — and exits nonzero if a hard
anti-pattern (CartesianProduct, row-at-a-time BatchEvalPython)
appears outside the documented allowlist.

Run: python tools/plan_audit.py
"""

from __future__ import annotations

import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from sales_agent_graphdb_spark.registry import all_queries  # noqa: E402
from sales_agent_graphdb_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

MARKERS = [
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "Exchange",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "BatchEvalPython",  # row-at-a-time Python UDF — the slow path
    "ArrowEvalPython",  # vectorized pandas UDF
    "MapInPandas",
    "FlatMapGroupsInPandas",
]

# Documented exceptions (see SCALE.md / docstrings). BNLJ entries are
# single-row or tiny-literal broadcasts, not data-sized cartesians.
ALLOW_BNLJ = {
    "text_bm25_search",  # one-row corpus-stats crossJoin
    "text_bm25_phrase",  # same one-row corpus-stats crossJoin (bm25_rank)
    "corpus_mix_weights",  # one-row totals crossJoin
    "sample_weighted_hash",  # same one-row totals crossJoin (weight calc)
    "dedup_embedding_cosine",  # the EXACT KERNEL, documented as such
    "range_join_value_bands",  # broadcast non-equi band join by design
    "v2_semantic_cache_probe",  # single-row literal probe
    "dedup_ngram_jaccard",  # exact-Jaccard kernel on a bounded 20-doc slice
    "st_late_data_policy",  # one-row max-event-time crossJoin (watermark cutoff)
    "funnel_conversion",  # crossJoin of three single-row stage counts
    "text_tfidf_keywords",  # one-row corpus-count crossJoin (idf factor)
    "ts_gap_fill_locf",  # one-row min/max-hour bounds crossJoin (spine gen)
    "agg_hll_rollup",  # one-row merged-sketch × one-row exact-total join
    "sample_quality_bins",  # one-row min/max bin-edges crossJoin
    "text_lm_perplexity_filter",  # one-row |V| vocab-size crossJoin (smoothing)
    "ann_filtered_ivf_topk",  # one-row exact-ids x one-row recall-verdict crossJoin
    "ann_filtered_partitioned_topk",  # 5 exact rows x one-row recall-verdict crossJoin
    "ann_filtered_adaptive_topk",  # one-row exact-ids x one-row recall-verdict crossJoin
    "agg_kmv_intersection",  # one-row estimate x one-row exact-counts crossJoins
    "agg_kmv_incremental",  # one-row estimate x one-row exact-count crossJoin
    "ann_pq_adc_topk",  # one-row exact-ids x one-row recall-verdict crossJoin
    "ann_ivfpq_pruned_topk",  # one-row exact-ids x one-row recall-verdict crossJoin
    "vec_binary_hamming_topk",  # one-row exact-ids x one-row recall-verdict crossJoin
    "dq_referential_integrity",  # per-edge one-row child-count x one-row orphan-count crossJoins
    "m10_forget_user_cascade",  # per-table one-row before-count x one-row deleted-count crossJoins
    "graph_hits_hubs_authorities",  # one-row max-score normalization crossJoin
    "w12_decay_weighted_score",  # one-row max-ts 'now' crossJoin
    "graph_modularity_score",  # one-row total-weight crossJoin
    # r06 planted-pair verdict queries: 60 deterministic planted rows
    # crossJoined with a ONE-ROW broadcast verdict frame (the
    # agg_approx_distinct bounds-verdict pattern) — bounded by the
    # planted-pair constant, never by data size.
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental_minhash",
    "dedup_cluster_canonical",
    "w5_ntile_buckets",  # one-row total-count crossJoin (ntile size rule)
    "dq_drift_chi_square",  # one-row ts-bounds + one-row totals crossJoins
    "join_salted_hot_keys",  # one-row fact-total crossJoin (hot-key threshold)
    "agg_equidepth_histogram",  # one-row total-count crossJoin (ntile size rule)
    "agg_spacesaving_topk",  # one-row stream-total crossJoin (heavy threshold n/k)
    "dedup_minhash_estimate_accuracy",  # one-row candidate-count crossJoin
    # r10 additions — all the one-row broadcast total/bounds pattern.
    "stats_ks_two_sample",  # one-row (N1, N2) totals crossJoin
    "ts_gap_fill_linear",  # one-row hour-bounds crossJoin (spine generation)
    "dq_benford_first_digit",  # one-row total-count crossJoin (ppm denominator)
    "sample_balanced_class",  # one-row minority-count crossJoin (balance threshold)
    # r11 additions — the same one-row broadcast total/bounds pattern.
    "stats_mann_whitney_u",  # one-row (N1, N2) totals crossJoin
    "stats_bootstrap_ci_hash",  # one-row (n, point-mean) base crossJoin
    "eval_ndcg_at_k",  # one-row relevant-count crossJoin (IDCG cutoff)
    "graph_rich_club_weighted",  # one-row E_club cutoff + one-row club-size crossJoins
    # r12 additions.
    "stats_spearman_rho",  # one-row n / nx / ny totals crossJoins (rank centering)
    "eval_map_at_k",  # 5-row broadcast query panel x corpus scan — the multi-query
    # retrieval eval by design (bounded by the panel size, never data)
}

# Queries expected to raise during plan derivation (none today: every
# registered query, streaming included, yields a batch result whose
# plan derives). An unexpected error means a query's construction
# regressed — that must fail the audit, not be silently skipped.
EXPECTED_PLAN_UNDERIVABLE: set[str] = set()

# Python UDTF lateral expansions: row-at-a-time by design, allowed only
# where the docstring declares the bounded slice and names the JVM
# production path.
ALLOW_UDTF = {
    "udtf_ngram_expand",  # API-surface proof on a 20-doc slice
}


def main() -> None:
    spark = get_spark(app_name="plan_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows, hard_fails, errors = [], [], []
    for name, spec in all_queries().items():
        try:
            df = spec.fn(spark, SF)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001
            errors.append((name, repr(ex)[:120]))
            continue
        counts = Counter({m: plan.count(m) for m in MARKERS})
        # "Exchange" substring-matches inside "BroadcastExchange"; the
        # Exch column must count SHUFFLE exchanges only.
        counts["Exchange"] -= plan.count("BroadcastExchange")
        # "BatchEvalPython" substring-matches inside
        # "BatchEvalPythonUDTF" — a UDTF lateral expansion is a
        # distinct, deliberately-registered surface (udtf_ngram_expand,
        # bounded slice), not a scalar row-at-a-time UDF in a hot path.
        counts["BatchEvalPython"] -= plan.count("BatchEvalPythonUDTF")
        rows.append((name, counts))
        if counts["CartesianProduct"]:
            hard_fails.append((name, "CartesianProduct"))
        if counts["BatchEvalPython"]:
            hard_fails.append((name, "BatchEvalPython (row-at-a-time UDF)"))
        if plan.count("BatchEvalPythonUDTF") and name not in ALLOW_UDTF:
            hard_fails.append((name, "BatchEvalPythonUDTF (unallowlisted)"))
        if counts["BroadcastNestedLoopJoin"] and name not in ALLOW_BNLJ:
            hard_fails.append((name, "BroadcastNestedLoopJoin (unallowlisted)"))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — registry-wide physical-plan audit (generated by "
            "tools/plan_audit.py at sf0.001)\n\n"
            "Operator tallies per registered query. Hard anti-patterns "
            "(CartesianProduct, row-at-a-time BatchEvalPython, "
            "unallowlisted BroadcastNestedLoopJoin) fail the audit; "
            "allowlisted BNLJ cases are one-row stat broadcasts or "
            "documented exact kernels (see tools/plan_audit.py "
            "ALLOW_BNLJ).\n\n"
            "| query | BHJ | SMJ | BNLJ | Exch | TopK | WinLim | Arrow | "
            "mapInPandas | groupsInPandas |\n|---|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, c in sorted(rows):
            f.write(
                f"| {name} | {c['BroadcastHashJoin']} | {c['SortMergeJoin']} | "
                f"{c['BroadcastNestedLoopJoin']} | {c['Exchange']} | "
                f"{c['TakeOrderedAndProject']} | {c['WindowGroupLimit']} | "
                f"{c['ArrowEvalPython']} | {c['MapInPandas']} | "
                f"{c['FlatMapGroupsInPandas']} |\n"
            )
        f.write(
            f"\n{len(rows)} queries audited; "
            f"{len(errors)} not plan-derivable this way"
        )
        if errors:
            f.write(" (" + ", ".join(n for n, _ in errors) + ")")
        f.write(
            f"; hard anti-patterns: {len(hard_fails)}"
            + (f" — {hard_fails}" if hard_fails else "")
            + ".\n"
        )

    unexpected_errors = [
        (n, e) for n, e in errors if n not in EXPECTED_PLAN_UNDERIVABLE
    ]
    print(f"audited={len(rows)} errors={len(errors)} hard_fails={hard_fails}")
    for n, e in errors:
        print(f"  ERR {n}: {e}")
    sys.exit(1 if (hard_fails or unexpected_errors) else 0)


if __name__ == "__main__":
    main()
