"""Round-8 operator semantics: MMR diversified rerank + exact-n
stratified sampling (value checks beyond the oracle hash, plus the
scale-shape assertions the docstrings promise).
"""

from __future__ import annotations

from tests.conftest import SF_MEDIUM, SF_SMALL


def test_mmr_rerank_semantics(spark):
    """vec_mmr_rerank — (a) rank 1 is the globally most-similar vector
    (MMR's first pick is pure relevance), (b) all five picks are
    distinct members of the top-20 prefetch, (c) the returned plan is
    the broadcast equi-join of the selection frame (no nested loop in
    the RETURNED plan — the bounded k'xk' pair frame is consumed
    inside the operator)."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.operators import similarity as sim
    from sales_agent_graphdb_spark.queries.vector import (
        _MMR_PREFETCH,
        _query_vec,
        vec_mmr_rerank,
    )

    rows = vec_mmr_rerank(spark, SF_SMALL).collect()
    assert [r.sel_rank for r in rows] == [1, 2, 3, 4, 5]
    assert len({r.vec_id for r in rows}) == 5

    emb = catalog.load_table(spark, SF_SMALL, "embeddings")
    qv = _query_vec(spark, SF_SMALL)
    top = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            sim.cosine(F.col("embedding"), sim.lit_vector(qv)).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(_MMR_PREFETCH)
        .collect()
    )
    top_ids = [r.vec_id for r in top]
    assert rows[0].vec_id == top_ids[0], "rank-1 must be the pure top-1"
    assert rows[0].sim == top[0].sim
    assert {r.vec_id for r in rows} <= set(top_ids)

    plan = (
        vec_mmr_rerank(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_mmr_rerank_diversifies_at_sf001(spark):
    """At sf0.01 the greedy measurably reorders: the output's sims are
    NOT monotonically decreasing (a pure top-5 would be), proving the
    diversity term changed the picks — the non-vacuousness check for
    the whole operator. (Pinned at sf0.01 where the prototype measured
    the inversion; sf0.001's tiny corpus may or may not invert.)"""
    from sales_agent_graphdb_spark.queries.vector import vec_mmr_rerank

    rows = vec_mmr_rerank(spark, "/root/testdata/sf0.01").collect()
    sims = [r.sim for r in rows]
    assert sims != sorted(sims, reverse=True), sims


def test_exact_n_sampler_counts_and_pooling(spark):
    """sample_stratified_exact_n — exactly n rows per stratum, rank
    dense 1..n, and the window input really is the hash-pooled
    fraction (the pool filter sits below the window in the plan, so
    the sort/shuffle never sees the full stratum)."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark.queries.curation import (
        _EXACT_N,
        sample_stratified_exact_n,
    )

    df = sample_stratified_exact_n(spark, SF_SMALL)
    rows = df.collect()
    per = {}
    for r in rows:
        per.setdefault(r.event_type, []).append(r.rn)
    assert set(per) == {"click", "error", "purchase", "signup", "view"}
    for t, rns in per.items():
        assert sorted(rns) == list(range(1, _EXACT_N + 1)), t

    plan = df._jdf.queryExecution().executedPlan().toString()
    # the md5 pool predicate must appear below the Window (a Filter on
    # the scan side), not above it.
    win_pos = plan.find("Window ")
    filt_pos = plan.find("conv(substring(md5")  # md5_int's lowering
    assert win_pos != -1 and filt_pos != -1, plan
    assert filt_pos > win_pos, (
        "pool filter should sit BELOW (after, in toString order) the "
        "Window operator in the plan tree"
    )
    # Bonus Spark gives the rank<=n shape: WindowGroupLimit runs a
    # PARTIAL per-partition top-n BEFORE the stratum shuffle — the
    # window exchange carries at most n rows per (partition, stratum).
    assert "WindowGroupLimit" in plan, plan


def test_adaptive_filtered_ann_width_and_recall(spark):
    """ann_filtered_adaptive_topk — the adaptive width must equal the
    integer overfetch formula on the measured selectivity, stay
    strictly between the fixed probe (4) and the full scan (16) at
    this filter, and the verdict row must hold with its exact side
    equal to a directly-computed filtered top-5."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.operators import similarity as sim
    from sales_agent_graphdb_spark.queries.ann_search import (
        _ADAPTIVE_BASE_PROBE,
        _ADAPTIVE_LABELS,
        ann_filtered_adaptive_topk,
    )
    from sales_agent_graphdb_spark.queries.vector import _query_vec

    row = ann_filtered_adaptive_topk(spark, SF_SMALL).collect()[0]
    emb = catalog.load_table(spark, SF_SMALL, "embeddings")
    r = emb.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("label").isin(*_ADAPTIVE_LABELS)).alias("c"),
    ).collect()[0]
    want = min(16, (_ADAPTIVE_BASE_PROBE * int(r["n"]) + int(r["c"]) - 1) // int(r["c"]))
    assert row.n_probed_cells == want
    assert 4 < row.n_probed_cells < 16
    assert row.recall_ok, row

    qv = _query_vec(spark, SF_SMALL)
    exact = (
        emb.filter(F.col("label").isin(*_ADAPTIVE_LABELS) & (F.col("vec_id") != 0))
        .select("vec_id", sim.cosine(F.col("embedding"), sim.lit_vector(qv)).alias("s"))
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(5)
        .collect()
    )
    assert sorted(int(x) for x in row.exact_ids.split(",")) == sorted(
        e.vec_id for e in exact
    )


def test_sessionize_gap_batch_conservation(spark):
    """sessionize_gap_batch — (a) per-user n_events must equal the raw
    event count (sessionization partitions, never drops), (b) session
    count is bounded by event count, (c) a manual replay of one user's
    timeline yields the same session count."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.event_windows import (
        _GAP_S,
        sessionize_gap_batch,
    )

    out = {r.user_id: r for r in sessionize_gap_batch(spark, SF_SMALL).collect()}
    ev = catalog.load_table(spark, SF_SMALL, "events")
    raw = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(out) == set(raw)
    for uid, row in out.items():
        assert row.n_events == raw[uid]
        assert 1 <= row.n_sessions <= row.n_events
        assert row.max_session_events <= row.n_events

    uid = min(raw)
    ts = sorted(
        r.ts for r in ev.filter(F.col("user_id") == uid).select("ts").collect()
    )
    n_sess = 1 + sum(
        1
        for a, b in zip(ts, ts[1:])
        if (b - a).total_seconds() > _GAP_S
    )
    assert out[uid].n_sessions == n_sess


def test_weighted_reservoir_exact_k_and_length_bias(spark):
    """sample_weighted_reservoir — (a) the reservoir holds EXACTLY k
    docs, (b) length-weighting is real: the sampled mean length
    exceeds the corpus mean (A-ES inclusion probability is
    monotone in weight)."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.curation import (
        _RES_K,
        sample_weighted_reservoir,
    )

    rows = sample_weighted_reservoir(spark, SF_MEDIUM).collect()
    n = sum(r.n_sampled for r in rows)
    assert n == _RES_K
    sampled_mean = sum(r.sum_chars for r in rows) / n
    corpus_mean = (
        catalog.load_table(spark, SF_MEDIUM, "documents")
        .agg(F.avg("n_chars"))
        .head()[0]
    )
    assert sampled_mean > corpus_mean, (sampled_mean, corpus_mean)


def test_random_projection_jl_property_and_plan(spark):
    """vec_random_projection_topk — (a) the JL guarantee that actually
    holds at d=8 on this corpus: the squared-norm ratio
    ||Pv||^2/d / ||v||^2 is UNBIASED (mean in [0.95, 1.05]; measured
    0.97-1.00 across all three SFs) and every per-vector ratio is
    positive and bounded (max measured 4.04 at sf0.1 — pinned < 8),
    (b) the plan is pure JVM: no Python eval, top-k via
    TakeOrderedAndProject. Top-5 RECALL is deliberately not asserted:
    measured worst-case true-neighbor projected rank is 1307/2000 at
    sf0.1 (near-random embeddings — neighbor/bulk cosine gap smaller
    than d=8 distortion), which is what the docstring documents."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.operators import similarity as sim
    from sales_agent_graphdb_spark.queries.vector import (
        _JL_DIM,
        _JL_K,
        _jl_signs,
        vec_random_projection_topk,
    )

    df = vec_random_projection_topk(spark, SF_MEDIUM)
    assert len(df.collect()) == _JL_K

    emb = catalog.load_table(spark, SF_MEDIUM, "embeddings")
    pv = F.array(
        *[sim.dot(F.col("embedding"), sim.lit_vector(r)) for r in _jl_signs()]
    )
    v = F.col("embedding").cast("array<double>")
    ratio = (sim.dot(pv, pv) / F.lit(float(_JL_DIM))) / sim.dot(v, v)
    row = emb.select(
        F.avg(ratio).alias("mean"),
        F.min(ratio).alias("lo"),
        F.max(ratio).alias("hi"),
    ).head()
    assert 0.95 <= row.mean <= 1.05, row
    assert row.lo > 0 and row.hi < 8, row

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_entropy_filter_bounds_and_flags(spark):
    """text_entropy_filter — entropy is bounded by [0, ln(n_types)]
    per doc (spot-checked on one doc), the per-lang mean sits in the
    measured corpus band, and at least one doc is flagged at sf0.01
    (threshold non-vacuous)."""
    import math

    from sales_agent_graphdb_spark.queries.text import (
        _ENTROPY_FLAG,
        text_entropy_filter,
    )

    rows = text_entropy_filter(spark, SF_MEDIUM).collect()
    assert sum(r.n_flagged for r in rows) >= 1
    for r in rows:
        assert 0.0 < r.avg_entropy < math.log(500), r
        assert 0 <= r.n_flagged <= r.n_docs
    assert _ENTROPY_FLAG < min(r.avg_entropy for r in rows)


def test_weighted_median_crossing_rule(spark):
    """pct_weighted_median — replay the crossing rule in pure Python
    for each group at sf0.001 and compare; also: the weighted median
    must differ from the unweighted row-median for at least one group
    (weighting is real on this data)."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.temporal import pct_weighted_median

    got = {r.l_returnflag: r for r in pct_weighted_median(spark, SF_SMALL).collect()}
    li = (
        catalog.load_table(spark, SF_SMALL, "lineitem")
        .select("l_returnflag", "l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
        .collect()
    )
    by_flag = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append(r)
    for flag, rows in by_flag.items():
        rows.sort(key=lambda r: (r.l_extendedprice, r.l_orderkey, r.l_linenumber))
        total = sum(int(r.l_quantity) for r in rows)
        cum = 0
        med = None
        for r in rows:
            cum += int(r.l_quantity)
            if 2 * cum >= total:
                med = r.l_extendedprice
                break
        assert got[flag].total_weight == total
        assert got[flag].weighted_median == med, flag


def test_kmv_regimes_and_plan(spark):
    """agg_kmv_intersection — (a) exact regime at sf0.001 (both sets
    under k: union_est equals exact_union exactly, intersection too),
    (b) sketch regime at sf0.01: measured relative error 2.1% union /
    5.5% inter — pinned under 15%/30% (k=64 ⇒ ~1/sqrt(62) ≈ 12.7%
    standard error), (c) the per-set sketch lowers to WindowGroupLimit
    so the exchange carries at most k rows per partition per set."""
    from sales_agent_graphdb_spark.queries.aggregates import agg_kmv_intersection

    r = agg_kmv_intersection(spark, SF_SMALL).collect()[0]
    assert r.union_est == float(r.exact_union)
    assert r.inter_est == float(r.exact_inter)

    df = agg_kmv_intersection(spark, SF_MEDIUM)
    r = df.collect()[0]
    assert abs(r.union_est - r.exact_union) / r.exact_union < 0.15, r
    assert abs(r.inter_est - r.exact_inter) / max(r.exact_inter, 1) < 0.30, r
    assert 0.0 < r.jaccard_est < 1.0, r

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_audio_segments_conservation(spark):
    """mm_audio_segment_plan — per doc: segment count = ceil(dur/5s),
    segment lengths tile the duration exactly, byte ranges tile the
    payload exactly (no gap, no overlap), and only audio docs
    (doc_id % 3 == 1) appear."""
    from collections import defaultdict

    from sales_agent_graphdb_spark.queries.multimodal_q import (
        mm_audio_segment_plan,
    )

    rows = mm_audio_segment_plan(spark, SF_SMALL).collect()
    by_doc = defaultdict(list)
    for r in rows:
        assert r.doc_id % 3 == 1
        by_doc[r.doc_id].append(r)
    for doc, segs in by_doc.items():
        segs.sort(key=lambda r: r.seg_no)
        assert [s.seg_no for s in segs] == list(range(len(segs)))
        total_ms = sum(s.seg_len_ms for s in segs)
        assert segs[-1].seg_start_ms + segs[-1].seg_len_ms == total_ms
        assert len(segs) == (total_ms + 4999) // 5000
        total_bytes = sum(s.seg_bytes for s in segs)
        assert segs[0].byte_start == 0
        for a, b in zip(segs, segs[1:]):
            assert b.byte_start == a.byte_start + a.seg_bytes
        assert total_bytes == segs[-1].byte_start + segs[-1].seg_bytes


def test_sql_pivot_statement_matches_dataframe_pivot(spark):
    """sql_api_pivot_stmt — the SQL PIVOT statement must equal the
    DataFrame groupBy().pivot() twin row-for-row."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.relational import sql_api_pivot_stmt

    got = {
        r.priority: (r.total_f, r.total_o, r.total_p)
        for r in sql_api_pivot_stmt(spark, SF_SMALL).collect()
    }
    o = catalog.load_table(spark, SF_SMALL, "orders")
    tw = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")))
    )
    want = {
        r.priority: (
            float(r.F) if r.F is not None else None,
            float(r.O) if r.O is not None else None,
            float(r.P) if r.P is not None else None,
        )
        for r in tw.collect()
    }
    assert got == want


def test_kmv_incremental_merge_ok_and_regimes(spark):
    """agg_kmv_incremental — merge_ok must hold (fold of partial
    sketches == direct sketch) at both small SFs, with the estimate
    exact when users < k and sketch-accurate when users > k."""
    from sales_agent_graphdb_spark.queries.aggregates import agg_kmv_incremental

    r = agg_kmv_incremental(spark, SF_SMALL).collect()[0]
    assert r.merge_ok
    assert r.union_est == float(r.exact_users)  # 15 users < k

    r = agg_kmv_incremental(spark, SF_MEDIUM).collect()[0]
    assert r.merge_ok
    assert r.m == r.k
    assert abs(r.union_est - r.exact_users) / r.exact_users < 0.15, r


def test_snapshot_immutability(spark):
    """s17_snapshot_time_travel — v1 must remain bit-exact after the
    v2 write: re-reading v1 through the manifest equals the base
    projection; v2 reflects exactly the declared change feed."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.sources_io import (
        _TT_CANCEL_MOD,
        _TT_DELETE_MOD,
        build_order_snapshots,
        read_snapshot,
        s17_snapshot_time_travel,
    )

    rows = {r.version: r for r in s17_snapshot_time_travel(spark, SF_SMALL).collect()}
    o = catalog.load_table(spark, SF_SMALL, "orders")
    n = o.count()
    assert rows["v1"].n_rows == n
    assert rows["v2"].n_rows == o.filter(
        F.col("o_orderkey") % _TT_DELETE_MOD != 0
    ).count()
    assert rows["v2"].n_cancelled >= o.filter(
        (F.col("o_orderkey") % _TT_CANCEL_MOD == 0)
        & (F.col("o_orderkey") % _TT_DELETE_MOD != 0)
    ).count()

    build_order_snapshots(spark, SF_SMALL)
    v1 = read_snapshot(spark, SF_SMALL, "v1")
    base = o.select("o_orderkey", "o_orderstatus", "o_totalprice")
    assert v1.exceptAll(base).count() == 0
    assert base.exceptAll(v1).count() == 0

    import pytest

    with pytest.raises(ValueError):
        read_snapshot(spark, SF_SMALL, "v9")


def test_scalar_subquery_reused_once(spark):
    """agg_scalar_subquery_reuse — the executed plan must carry a
    ReusedSubquery node (the MAX statistic computed once, consumed
    twice)."""
    from sales_agent_graphdb_spark.queries.relational import (
        agg_scalar_subquery_reuse,
    )

    df = agg_scalar_subquery_reuse(spark, SF_SMALL)
    df.collect()  # reuse is visible in the executed plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedSubquery" in plan, plan


def test_gaps_islands_streak_replay(spark):
    """w10_gaps_islands_streak — replay the island computation in pure
    Python for every user at sf0.001 and compare all four columns."""
    from datetime import timedelta

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.windows import w10_gaps_islands_streak

    got = {
        r.user_id: r for r in w10_gaps_islands_streak(spark, SF_SMALL).collect()
    }
    ev = catalog.load_table(spark, SF_SMALL, "events").select("user_id", "ts").collect()
    days = {}
    for r in ev:
        days.setdefault(r.user_id, set()).add(r.ts.date())
    for uid, ds in days.items():
        ds = sorted(ds)
        streaks = []
        start, length = ds[0], 1
        for a, b in zip(ds, ds[1:]):
            if b - a == timedelta(days=1):
                length += 1
            else:
                streaks.append((length, start))
                start, length = b, 1
        streaks.append((length, start))
        best = max(s[0] for s in streaks)
        first_best = min(s[1] for s in streaks if s[0] == best)
        g = got[uid]
        assert g.longest_streak_days == best, uid
        assert g.streak_start == first_best, uid
        assert g.n_streaks == len(streaks), uid


def test_stream_kmv_equals_batch_sketch(spark):
    """st_stream_kmv_maintain — the streamed fold must reach the same
    estimate as the batch incremental fold (same users, same hash,
    same k): union_est and m equal agg_kmv_incremental's, and the
    sketch is full (m == k) at sf0.01 where users > k."""
    from sales_agent_graphdb_spark.queries.aggregates import agg_kmv_incremental
    from sales_agent_graphdb_spark.queries.streaming_exec import (
        st_stream_kmv_maintain,
    )

    s = st_stream_kmv_maintain(spark, SF_MEDIUM).collect()[0]
    b = agg_kmv_incremental(spark, SF_MEDIUM).collect()[0]
    assert s.m == b.m == s.k
    assert s.union_est == b.union_est
    assert s.exact_users == b.exact_users


def test_node_jaccard_bounds_and_symmetry(spark):
    """graph_node_jaccard — every Jaccard in (0, 1], n_common bounded
    by both degrees, and a direct recomputation of the top pair from raw
    sets matches."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.graphq import graph_node_jaccard

    rows = graph_node_jaccard(spark, SF_SMALL).collect()
    assert rows, "no similar pairs found"
    for r in rows:
        assert 0.0 < r.jaccard <= 1.0
        assert r.brand_a < r.brand_b

    li = catalog.load_table(spark, SF_SMALL, "lineitem")
    p = catalog.load_table(spark, SF_SMALL, "part")
    ob = (
        li.join(p, li.l_partkey == p.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .collect()
    )
    nbr = {}
    for r in ob:
        nbr.setdefault(r.brand, set()).add(r.okey)
    top = rows[0]
    a, b = nbr[top.brand_a], nbr[top.brand_b]
    inter = len(a & b)
    assert top.n_common == inter
    assert top.jaccard == round(inter / len(a | b), 6)


def test_seasonal_baseline_counts(spark):
    """anomaly_seasonal_baseline — cells tile (event_type, hour):
    n_events sums to the corpus size, every baseline is positive, and
    anomalies are a strict minority in each cell."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.temporal import (
        anomaly_seasonal_baseline,
    )

    rows = anomaly_seasonal_baseline(spark, SF_SMALL).collect()
    total = sum(r.n_events for r in rows)
    assert total == catalog.load_table(spark, SF_SMALL, "events").count()
    for r in rows:
        assert 0 <= r.hod <= 23
        assert r.baseline > 0
        assert r.n_anomalies < r.n_events


def test_unpivot_roundtrips_pivot(spark):
    """sql_api_unpivot_stmt ∘ sql_api_pivot_stmt — unpivoting the
    pivoted frame recovers exactly the long-form aggregate (NULL cells
    dropped on both paths)."""
    from sales_agent_graphdb_spark.queries.relational import (
        sql_api_pivot_stmt,
        sql_api_unpivot_stmt,
    )

    long_rows = {
        (r.priority, r.status): r.total
        for r in sql_api_unpivot_stmt(spark, SF_SMALL).collect()
    }
    wide = sql_api_pivot_stmt(spark, SF_SMALL).collect()
    recovered = {}
    for r in wide:
        for status, v in (("F", r.total_f), ("O", r.total_o), ("P", r.total_p)):
            if v is not None:
                recovered[(r.priority, status)] = v
    assert long_rows == recovered


def test_url_parse_matches_python_urllib(spark):
    """f19_url_parse — Spark's parse_url must agree with Python's
    urllib on the synthesized URL shape (host, path, query param)."""
    from urllib.parse import parse_qs, urlparse

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.scalar_fns import f19_url_parse

    rows = f19_url_parse(spark, SF_SMALL).collect()
    docs = catalog.load_table(spark, SF_SMALL, "documents").collect()
    want = {}
    for d in docs:
        url = f"https://{d.source}.example.com/docs/{d.lang}/{d.doc_id}?ref=scraper&lang={d.lang}"
        u = urlparse(url)
        lang = parse_qs(u.query)["lang"][0]
        host = u.hostname
        e = want.setdefault(host, {"n": 0, "langs": set(), "paths": []})
        e["n"] += 1
        e["langs"].add(lang)
        e["paths"].append(u.path)
    assert len(rows) == len(want)
    for r in rows:
        e = want[r.host]
        assert r.n_docs == e["n"]
        assert r.n_langs == len(e["langs"])
        assert r.sample_path == min(e["paths"])


def test_dynamic_overwrite_touches_one_partition(spark):
    """m9_dynamic_partition_overwrite — after the run, the corrected
    month's directory is newer than an untouched neighbor's files and
    the neighbor's row count equals the source (file-level
    non-damage, beyond the oracle's value-level certificate)."""
    import os

    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.mutations import (
        m9_dynamic_partition_overwrite,
    )
    from sales_agent_graphdb_spark.queries.sources_io import _scratch

    m9_dynamic_partition_overwrite(spark, SF_SMALL).collect()
    root = _scratch(SF_SMALL, "lineitem_by_month_m9")

    def newest(month):
        d = os.path.join(root, f"ship_month={month}")
        return max(
            os.path.getmtime(os.path.join(d, f))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    assert newest("1996-07") > newest("1996-06")
    li = catalog.load_table(spark, SF_SMALL, "lineitem")
    want = li.filter(F.date_format("l_shipdate", "yyyy-MM") == "1996-06").count()
    got = (
        spark.read.parquet(root)
        .filter(F.col("ship_month") == "1996-06")
        .count()
    )
    assert got == want


def test_grouped_agg_pandas_plan_shape(spark):
    """udaf_grouped_pandas_median — the plan is the grouped-agg
    pandas shape (ArrowAggregatePython: whole-group Arrow batches),
    NOT a row-pickled BatchEvalPython; and the medians match numpy
    computed driver-side."""
    import numpy as np

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.scalar_fns import (
        udaf_grouped_pandas_median,
    )

    df = udaf_grouped_pandas_median(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowAggregatePython" in plan, plan
    assert "BatchEvalPython" not in plan, plan

    got = {r.event_type: r for r in df.collect()}
    ev = catalog.load_table(spark, SF_SMALL, "events").collect()
    vals = {}
    for r in ev:
        vals.setdefault(r.event_type, []).append(r.value)
    for t, vs in vals.items():
        assert got[t].n == len(vs)
        assert got[t].median_value == float(np.median(np.array(vs)))


def test_pq_codebook_determinism_and_recall(spark):
    """ann_pq_adc_topk — (a) codebooks are bit-stable across rebuilds
    (the DECIMAL-mean Lloyd guarantee, so the recall verdict can never
    flip), (b) measured PQ recall at sf0.01 is 4/5 (asserted >= the
    registered floor 2 with real slack), (c) ADC candidates carry the
    claimed 32x byte compression (8 code columns vs 64 floats)."""
    import numpy as np

    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.operators import ann
    from sales_agent_graphdb_spark.queries.ann_search import (
        _PQ_RECALL_FLOOR,
        ann_pq_adc_topk,
    )

    emb = catalog.load_table(spark, SF_MEDIUM, "embeddings")
    b1 = ann.pq_codebooks(emb, dim=64)
    b2 = ann.pq_codebooks(emb, dim=64)
    assert np.array_equal(b1, b2), "codebooks must be rebuild-stable"
    assert b1.shape == (ann.PQ_M, ann.PQ_K, 64 // ann.PQ_M)

    row = ann_pq_adc_topk(spark, SF_MEDIUM).collect()[0]
    assert row.recall_ok
    assert row.compression_x == 32

    # measured recall, not just the verdict: recompute the PQ top-5
    from sales_agent_graphdb_spark.operators.similarity import cosine, lit_vector
    from sales_agent_graphdb_spark.queries.vector import _query_vec

    qv = _query_vec(spark, SF_MEDIUM)
    base = emb.filter(F.col("vec_id") != 0)
    enc = ann.pq_encode(base, b1)
    cands = (
        enc.select("vec_id", ann.pq_adc_score(b1, qv).alias("adc"), "embedding")
        .orderBy(F.col("adc").desc(), "vec_id")
        .limit(50)
    )
    pq_top = {
        r.vec_id
        for r in cands.select(
            "vec_id", cosine(F.col("embedding"), lit_vector(qv)).alias("s")
        )
        .orderBy(F.col("s").desc(), "vec_id")
        .limit(5)
        .collect()
    }
    exact = {int(x) for x in row.exact_ids.split(",")}
    assert len(pq_top & exact) >= _PQ_RECALL_FLOOR + 1, (pq_top, exact)


def test_bloom_prefilter_answer_preserving(spark):
    """decontaminate_bloom_prefilter — the bloom-prefiltered result
    must equal decontaminate_ngram_overlap row-for-row (false
    positives verified away by the exact join), with a non-empty
    contaminated set at sf0.01."""
    from sales_agent_graphdb_spark.queries.curation import (
        decontaminate_bloom_prefilter,
        decontaminate_ngram_overlap,
    )

    bloom = {
        (r.train_doc_id, r.n_shared_grams, r.n_eval_docs)
        for r in decontaminate_bloom_prefilter(spark, SF_MEDIUM).collect()
    }
    exact = {
        (r.train_doc_id, r.n_shared_grams, r.n_eval_docs)
        for r in decontaminate_ngram_overlap(spark, SF_MEDIUM).collect()
    }
    assert bloom == exact
    assert bloom, "sf0.01 must have contaminated docs (9 measured)"


def test_ivfpq_double_pruning_plan(spark):
    """ann_ivfpq_pruned_topk — the two orthogonal levers must BOTH
    show in the candidate scan: PartitionFilters on the probed cells
    (reads 4/16 directories) and a ReadSchema WITHOUT the embedding
    column (ADC reads only vec_id + code columns); the verdict must
    hold at sf0.01."""
    from pyspark.sql import functions as F

    import numpy as np

    from sales_agent_graphdb_spark.queries.ann_search import (
        _IVFPQ_PROBE,
        _index_path,
        ann,
        ann_ivfpq_pruned_topk,
    )
    from sales_agent_graphdb_spark.queries.vector import _query_vec

    row = ann_ivfpq_pruned_topk(spark, SF_MEDIUM).collect()[0]
    assert row.recall_ok

    # rebuild the candidate frame alone to read its scan
    import json as _json
    from pathlib import Path

    path = _index_path(SF_MEDIUM, "ivfpq")
    d = _json.loads((Path(path) / "_SIDECAR.json").read_text())
    cents, books = np.asarray(d["cents"]), np.asarray(d["books"])
    qv = _query_vec(spark, SF_MEDIUM)
    probe = [int(c) for c in np.argsort(-(cents @ np.asarray(qv)))[:_IVFPQ_PROBE]]
    cands = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(probe) & (F.col("vec_id") != 0))
        .select("vec_id", ann.pq_adc_score(books, qv).alias("adc"))
        .orderBy(F.col("adc").desc(), "vec_id")
        .limit(50)
    )
    plan = cands._jdf.queryExecution().executedPlan().toString()
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in pf, pf  # the probe is partition pruning, not a filter
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "embedding" not in read_schema, read_schema
    assert "code_0" in read_schema, read_schema


def test_quality_classifier_keep_rate_and_replay(spark):
    """text_quality_classifier_linear — measured keep rate 61-66% at
    every SF (pinned 40-85%: non-vacuous both ways), and a Python
    replay of the margin rule over raw docs matches n_kept exactly."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.text import (
        _CLF_W0,
        _CLF_W_ATL,
        _CLF_W_LEN,
        _CLF_W_STOP,
        text_quality_classifier_linear,
    )

    rows = text_quality_classifier_linear(spark, SF_SMALL).collect()
    tot = sum(r.n_docs for r in rows)
    kept = sum(r.n_kept for r in rows)
    assert 0.40 < kept / tot < 0.85, (kept, tot)

    docs = catalog.load_table(spark, SF_SMALL, "documents").collect()
    stops = {"the", "and", "of", "to", "a", "in", "is"}
    want = 0
    for d in docs:
        toks = d.text.strip().split()
        n = float(len(toks))
        atl = len(d.text) / n
        sr = sum(1 for w in toks if w in stops) / n
        margin = _CLF_W0 + _CLF_W_STOP * sr + _CLF_W_ATL * atl + _CLF_W_LEN * n
        if margin > 0:
            want += 1
    assert kept == want


def test_markov_rows_sum_to_one_and_replay(spark):
    """w11_markov_transitions — every row of the matrix sums to 1
    (within 6-dp rounding), and a Python replay of one user's pair
    counts is consistent with the global matrix."""
    from collections import Counter

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.windows import w11_markov_transitions

    rows = w11_markov_transitions(spark, SF_SMALL).collect()
    by_prev = {}
    for r in rows:
        by_prev.setdefault(r.prev_type, []).append(r)
    for prev, rs in by_prev.items():
        assert abs(sum(r.p for r in rs) - 1.0) < 1e-4, prev
        assert sum(r.n for r in rs) > 0

    ev = sorted(
        catalog.load_table(spark, SF_SMALL, "events").collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    pairs = Counter()
    for a, b in zip(ev, ev[1:]):
        if a.user_id == b.user_id:
            pairs[(a.event_type, b.event_type)] += 1
    got = {(r.prev_type, r.next_type): r.n for r in rows}
    assert got == dict(pairs)


def test_bitmap_distinct_exact(spark):
    """agg_bitmap_distinct — the bitmap count must EQUAL the exact
    COUNT(DISTINCT) in every group (this is not a sketch), with word
    counts bounded by ceil(max_id/63)."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.aggregates import agg_bitmap_distinct

    rows = agg_bitmap_distinct(spark, SF_MEDIUM).collect()
    assert rows
    max_id = (
        catalog.load_table(spark, SF_MEDIUM, "events")
        .agg(F.max("user_id"))
        .head()[0]
    )
    for r in rows:
        assert r.n_users_bitmap == r.n_users_exact, r
        assert r.n_words <= max_id // 63 + 1


def test_binary_hamming_recall_and_determinism(spark):
    """vec_binary_hamming_topk — verdict holds at sf0.01 with measured
    recall 4/5 (floor 2 + real slack), and the sign-bit signature of a
    known vector matches a Python repack bit-for-bit."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.vector import (
        _sign_word,
        vec_binary_hamming_topk,
    )

    row = vec_binary_hamming_topk(spark, SF_MEDIUM).collect()[0]
    assert row.recall_ok
    assert row.bits_per_vector == 64

    emb = catalog.load_table(spark, SF_MEDIUM, "embeddings")
    got = (
        emb.filter(F.col("vec_id") == 1)
        .select(
            _sign_word(F.col("embedding"), 0, 32).alias("w0"),
            _sign_word(F.col("embedding"), 32, 32).alias("w1"),
        )
        .head()
    )
    vec = emb.filter(F.col("vec_id") == 1).head().embedding
    w0 = sum((1 << i) for i in range(32) if vec[i] > 0)
    w1 = sum((1 << (i - 32)) for i in range(32, 64) if vec[i] > 0)
    assert (got.w0, got.w1) == (w0, w1)


def test_referential_integrity_clean_star(spark):
    """dq_referential_integrity — the generated star schema must be
    orphan-free on every FK edge, and a planted orphan must be
    counted."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.profiling import (
        dq_referential_integrity,
    )

    rows = dq_referential_integrity(spark, SF_SMALL).collect()
    assert len(rows) == 5
    for r in rows:
        assert r.n_orphans == 0, r
        assert r.n_child_rows > 0

    # planted-orphan sanity: one bogus child key must show up
    li = catalog.load_table(spark, SF_SMALL, "lineitem")
    o = catalog.load_table(spark, SF_SMALL, "orders")
    bad = li.limit(1).withColumn("l_orderkey", F.lit(-1).cast("bigint"))
    poisoned = li.unionByName(bad)
    n = poisoned.join(
        o, poisoned.l_orderkey == o.o_orderkey, "left_anti"
    ).count()
    assert n == 1


def test_random_walks_are_valid_paths(spark):
    """graph_random_walk_corpus — every step of every walk must be a
    real edge of the undirected graph, walks alternate bipartite
    sides, and the count equals the start budget."""
    from sales_agent_graphdb_spark.queries.graphq import (
        _WALK_STARTS,
        _edges,
        graph_random_walk_corpus,
    )

    rows = graph_random_walk_corpus(spark, SF_SMALL).collect()
    assert len(rows) == _WALK_STARTS
    edges = {
        (r.src, r.dst) for r in _edges(spark, SF_SMALL).distinct().collect()
    }
    und = edges | {(b, a) for a, b in edges}
    for r in rows:
        nodes = r.walk.split(">")
        assert len(nodes) == 4
        assert nodes[0] == r.start_node
        for a, b in zip(nodes, nodes[1:]):
            assert (a, b) in und, (a, b)


def test_scalar_iter_udf_plan_and_values(spark):
    """udf_scalar_iter_embed — the plan is an Arrow-batched Python
    eval (never row-pickled BatchEvalPython), and scores replay in
    Python exactly."""
    import hashlib

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.scalar_fns import udf_scalar_iter_embed

    df = udf_scalar_iter_embed(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan

    got = {r.doc_id: r.score for r in df.collect()}
    for d in catalog.load_table(spark, SF_SMALL, "documents").collect():
        want = (
            int(hashlib.md5(f"m1:{d.text}".encode()).hexdigest()[:8], 16) % 1000
        ) / 1000.0
        assert got[d.doc_id] == want
        if d.doc_id > 20:
            break


def test_forget_cascade_conservation(spark):
    """m10_forget_user_cascade — deleted + after == before per table,
    erasure is non-vacuous, and no surviving event belongs to a
    doomed user."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.mutations import (
        _FORGET_MOD,
        m10_forget_user_cascade,
    )

    rows = {r.tbl: r for r in m10_forget_user_cascade(spark, SF_SMALL).collect()}
    assert set(rows) == {"events", "orders", "lineitem"}
    for r in rows.values():
        assert r.n_before == r.n_deleted + r.n_after
        assert r.n_deleted > 0, r
    ev = catalog.load_table(spark, SF_SMALL, "events")
    survivors = ev.filter(F.col("user_id") % _FORGET_MOD != 0).count()
    assert rows["events"].n_after == survivors


def test_hits_replay_and_bounds(spark):
    """graph_hits_hubs_authorities — Python replay of the two
    integer iterations matches raw scores exactly; the normalized
    authority of rank-1 is exactly 1.0."""
    from collections import defaultdict

    from sales_agent_graphdb_spark.queries.graphq import (
        _edges,
        graph_hits_hubs_authorities,
    )

    rows = graph_hits_hubs_authorities(spark, SF_SMALL).collect()
    assert rows[0].authority == 1.0
    edges = {
        (r.src, r.dst) for r in _edges(spark, SF_SMALL).distinct().collect()
    }
    a1 = defaultdict(int)
    for h, a in edges:
        a1[a] += 1
    h1 = defaultdict(int)
    for h, a in edges:
        h1[h] += a1[a]
    a2 = defaultdict(int)
    for h, a in edges:
        a2[a] += h1[h]
    want = sorted(a2.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = [(r.brand, r.raw_score) for r in rows]
    assert got == want


def test_decay_score_replay(spark):
    """w12_decay_weighted_score — replay the hyperbolic kernel in
    Python (same double ops, same DECIMAL quantization granularity)
    for the top user and confirm the count and 6-dp score."""
    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.event_windows import (
        w12_decay_weighted_score,
    )

    rows = w12_decay_weighted_score(spark, SF_SMALL).collect()
    assert rows and rows[0].decay_score > 0
    top = rows[0]
    ev = catalog.load_table(spark, SF_SMALL, "events").collect()
    now = max(r.ts for r in ev).date()
    from decimal import Decimal

    terms = [
        Decimal(repr(r.value * (1.0 / (1.0 + (now - r.ts.date()).days)))).quantize(
            Decimal("1." + "0" * 12)
        )
        for r in ev
        if r.event_type == "purchase" and r.user_id == top.user_id
    ]
    assert top.n_purchases == len(terms)
    got = round(float(sum(terms)), 6)
    assert got == top.decay_score


def test_ab_test_replay(spark):
    """stats_ab_test_lift — replay arm assignment + conversion + the
    pooled z in Python and match all six columns."""
    import hashlib
    import math

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.features import stats_ab_test_lift

    r = stats_ab_test_lift(spark, SF_SMALL).collect()[0]
    ev = catalog.load_table(spark, SF_SMALL, "events").collect()
    conv = {}
    for e in ev:
        c = conv.setdefault(e.user_id, 0)
        if e.event_type == "purchase" and e.value > 150:
            conv[e.user_id] = 1
    arms = {}
    for uid, c in conv.items():
        h = int(hashlib.md5(f"{uid}ab8".encode()).hexdigest()[:15], 16)
        arms.setdefault("control" if h % 2 == 0 else "treatment", []).append(c)
    n_c, x_c = len(arms["control"]), sum(arms["control"])
    n_t, x_t = len(arms["treatment"]), sum(arms["treatment"])
    assert (r.n_c, r.x_c, r.n_t, r.x_t) == (n_c, x_c, n_t, x_t)
    p_t, p_c = x_t / n_t, x_c / n_c
    pool = (x_t + x_c) / (n_t + n_c)
    z = (p_t - p_c) / math.sqrt(pool * (1.0 - pool) * (1.0 / n_t + 1.0 / n_c))
    assert r.lift_abs == round(p_t - p_c, 6)
    assert r.z_stat == round(z, 6)


def test_loo_encoding_blocks_self_leakage(spark):
    """feature_target_encoding_loo — the encoding of a row must NOT
    contain its own target: for a brand with n rows, adding the row
    back recovers the plain brand mean exactly."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.features import (
        feature_target_encoding_loo,
    )

    rows = feature_target_encoding_loo(spark, SF_SMALL).collect()
    assert rows
    li = catalog.load_table(spark, SF_SMALL, "lineitem")
    p = catalog.load_table(spark, SF_SMALL, "part")
    base = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
        )
        .collect()
    )
    stats = {r.brand: (r.n, float(r.s)) for r in base}
    for r in rows[:20]:
        n, s = stats[r.brand]
        assert r.loo_encoding == round((s - r.y) / (n - 1), 6), r


def test_modularity_algebraic_self_checks(spark):
    """graph_modularity_score — the all-in-one partition's Q must be
    exactly 0 (e_in == m and sum d_c == 2m algebraically), and the
    random 4-way partition must sit near the null value (|Q| < 0.2)
    and strictly below any real community structure (Q < 0.3)."""
    from sales_agent_graphdb_spark.queries.graphq import graph_modularity_score

    rows = {
        r.partition_name: r
        for r in graph_modularity_score(spark, SF_SMALL).collect()
    }
    assert rows["all_in_one"].modularity == 0.0
    assert rows["all_in_one"].intra_weight == rows["all_in_one"].total_weight
    assert abs(rows["md5_hash_4"].modularity) < 0.2
    assert rows["md5_hash_4"].intra_weight < rows["md5_hash_4"].total_weight


def test_filter_clause_matches_conditional_agg(spark):
    """sql_api_filter_clause — the FILTER clause must equal the
    CASE-based conditional aggregate twin."""
    from pyspark.sql import functions as F

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.relational import sql_api_filter_clause

    got = {
        r.priority: (r.n_orders, r.n_finished, r.finished_value, r.n_big)
        for r in sql_api_filter_clause(spark, SF_SMALL).collect()
    }
    o = catalog.load_table(spark, SF_SMALL, "orders")
    tw = (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("nf"),
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "F",
                    F.col("o_totalprice").cast("decimal(18,2)"),
                )
            )
            .cast("double")
            .alias("fv"),
            F.sum(F.when(F.col("o_totalprice") > 100000.0, 1).otherwise(0)).alias(
                "nb"
            ),
        )
        .collect()
    )
    want = {r.priority: (r.n, r.nf, r.fv, r.nb) for r in tw}
    assert got == want


def test_apply_in_pandas_plan_and_replay(spark):
    """udf_apply_in_pandas_iqr — the plan carries FlatMapGroupsInPandas
    (the grouped-map Arrow node), and the quartiles replay via
    np.percentile."""
    import numpy as np

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.scalar_fns import (
        udf_apply_in_pandas_iqr,
    )

    df = udf_apply_in_pandas_iqr(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan

    got = {r.event_type: r for r in df.collect()}
    ev = catalog.load_table(spark, SF_SMALL, "events").collect()
    vals = {}
    for r in ev:
        vals.setdefault(r.event_type, []).append(r.value)
    for t, vs in vals.items():
        a = np.array(vs)
        assert got[t].n == len(vs)
        assert got[t].q1 == round(float(np.percentile(a, 25)), 6)
        assert got[t].iqr == round(
            float(np.percentile(a, 75)) - float(np.percentile(a, 25)), 6
        )


def test_map_in_arrow_plan(spark):
    """udf_map_in_arrow_sig — the plan carries the Arrow map node
    (PythonMapInArrow / MapInArrow), not a pandas conversion."""
    from sales_agent_graphdb_spark.queries.scalar_fns import udf_map_in_arrow_sig

    df = udf_map_in_arrow_sig(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan, plan
    rows = df.limit(3).collect()
    assert all(len(r.sig) == 16 for r in rows)


def test_cross_correlation_lag_zero_replay(spark):
    """ts_cross_correlation_lagged — lag 0 must equal a numpy Pearson
    over the jointly-present hours, and every |xcorr| <= 1."""
    import numpy as np

    from sales_agent_graphdb_spark import catalog
    from sales_agent_graphdb_spark.queries.temporal import (
        ts_cross_correlation_lagged,
    )

    rows = {r.lag_hours: r.xcorr for r in ts_cross_correlation_lagged(spark, SF_SMALL).collect()}
    assert set(rows) == {-2, -1, 0, 1, 2}
    for v in rows.values():
        assert abs(v) <= 1.0

    ev = catalog.load_table(spark, SF_SMALL, "events").collect()
    from collections import Counter

    vc, pc = Counter(), Counter()
    for r in ev:
        h = r.ts.replace(minute=0, second=0, microsecond=0)
        if r.event_type == "view":
            vc[h] += 1
        elif r.event_type == "purchase":
            pc[h] += 1
    common = sorted(set(vc) & set(pc))
    x = np.array([vc[h] for h in common], dtype=float)
    y = np.array([pc[h] for h in common], dtype=float)
    want = round(float(np.corrcoef(x, y)[0, 1]), 6)
    assert abs(rows[0] - want) < 2e-6, (rows[0], want)
