"""Round-11 operator properties: the streaming top-k fold's
semilattice + atomic-version commit, the two-phase sharded window
skyline vs brute-force dominance, the Mann-Whitney histogram identity, the
VaR/ES tail arithmetic under ties, the exact integer ACF vs numpy,
NDCG's short-corpus IDCG path, and the backbone non-degeneracy pin."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from sales_agent_graphdb_spark.registry import all_queries
from sales_agent_graphdb_spark.streaming import pipelines

SF = "/root/testdata/sf0.01"
QS = all_queries()


# ---------------------------------------------------------------------------
# Streaming top-k fold (make_topk_fold_sink)
# ---------------------------------------------------------------------------


def _topk_batches(spark):
    rows = [
        [("click", 10, 5.0), ("click", 11, 9.0), ("buy", 12, 1.0),
         ("buy", 13, 8.0)],
        [("click", 20, 7.0), ("click", 21, 2.0), ("buy", 22, 9.5)],
        [("click", 30, 9.0), ("buy", 31, 0.5), ("buy", 32, 8.0),
         ("click", 33, 1.0)],
    ]
    return [
        spark.createDataFrame(b, "event_type string, event_id long, value double")
        for b in rows
    ]


def test_topk_fold_semilattice_and_replay(spark, tmp_path):
    """Drained fold state == one-shot top-k of the full union
    (semilattice), version dirs are the markers, and replaying an
    EARLIER batch is a no-op."""
    root = str(tmp_path / "tbl")
    sink = pipelines.make_topk_fold_sink(root)
    batches = _topk_batches(spark)
    for i, b in enumerate(batches):
        sink(b, i)
    versions = sorted(n for n in os.listdir(root) if n.startswith("v_"))
    assert versions == ["v_0", "v_1", "v_2"], versions

    cur = pipelines.latest_committed_version(root)
    state = sorted(
        map(tuple, spark.read.parquet(cur[1]).select(
            "event_type", "event_id").collect())
    )
    full = batches[0].unionByName(batches[1]).unionByName(batches[2])
    from pyspark.sql.window import Window as W

    w = W.partitionBy("event_type").orderBy(
        F.col("value").cast("decimal(18,2)").desc(), "event_id"
    )
    expect = sorted(
        map(tuple, full.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= pipelines._TOPK_STREAM_K)
            .select("event_type", "event_id").collect())
    )
    assert state == expect

    sink(batches[0], 0)  # replay: marker == version dir, must no-op
    cur2 = pipelines.latest_committed_version(root)
    assert cur2 == cur
    assert sorted(n for n in os.listdir(root) if n.startswith("v_")) == versions


# ---------------------------------------------------------------------------
# Skyline: window form == brute-force NOT EXISTS dominance
# ---------------------------------------------------------------------------


def test_skyline_window_equals_bruteforce(spark):
    """Random points with deliberate duplicates and axis ties: the
    registered TWO-PHASE window skyline (sharded local fronts, then
    the global pass) must equal the O(n²) dominance test regardless
    of how the hash scatters points across shards."""
    from sales_agent_graphdb_spark.queries.curation import skyline_2d

    rng = np.random.default_rng(11)
    pts = [(int(i), int(rng.integers(0, 12)), int(rng.integers(0, 12)))
           for i in range(120)]
    pts += [(200, 11, 11), (201, 11, 11)]  # equal points: both survive
    df = spark.createDataFrame(pts, "id long, d1 long, d2 long")

    sky = skyline_2d(df, "d1", "d2", "id").select("id")
    got = sorted(r.id for r in sky.collect())

    brute = []
    for i, x1, y1 in pts:
        dominated = any(
            x2 >= x1 and y2 >= y1 and (x2 > x1 or y2 > y1)
            for j, x2, y2 in pts
            if j != i
        )
        if not dominated:
            brute.append(i)
    assert got == sorted(brute)
    assert 200 in got and 201 in got  # strict dominance keeps duplicates


# ---------------------------------------------------------------------------
# Mann-Whitney: histogram identity == brute-force pair count
# ---------------------------------------------------------------------------


def test_mann_whitney_histogram_identity():
    rng = np.random.default_rng(7)
    a = rng.integers(0, 20, 300)  # treatment values (ties guaranteed)
    b = rng.integers(0, 20, 250)
    # brute force 2*U1 = 2*(#wins) + #ties over all pairs
    wins = sum(int(x > y) for x in a for y in b)
    ties = sum(int(x == y) for x in a for y in b)
    u1_x2_brute = 2 * wins + ties
    # histogram identity: sum_v n1(v) * (2*c2(v) - n2(v)), c2 inclusive cumsum
    vals = sorted(set(a) | set(b))
    c2 = 0
    u1_x2 = 0
    for v in vals:
        n1 = int((a == v).sum())
        n2 = int((b == v).sum())
        c2 += n2
        u1_x2 += n1 * (2 * c2 - n2)
    assert u1_x2 == u1_x2_brute


# ---------------------------------------------------------------------------
# VaR/ES: partial boundary-row consumption is exact under heavy ties
# ---------------------------------------------------------------------------


def test_var_es_tail_exact_under_ties(spark, tmp_path):
    # 100 events in one series, values with a fat tie at the p99 edge
    vals = [50.0] * 90 + [99.0] * 9 + [99.0]  # k = 1, tail = one 99.0
    rows = [(int(i), "s", float(v)) for i, v in enumerate(vals)]
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    pq.write_table(
        pa.table({
            "event_id": np.arange(100, dtype=np.int64),
            "ts": np.array(
                ["2024-01-01T00:00:00"] * 100, dtype="datetime64[us]"
            ),
            "user_id": np.ones(100, dtype=np.int64),
            "event_type": ["s"] * 100,
            "value": np.array([v for _, _, v in rows]),
            "props": ["{}"] * 100,
        }),
        os.path.join(d, "events.parquet"),
    )
    out = QS["ts_var_expected_shortfall"].fn(spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_events == 100
    assert r.var_99 == 99.0   # k=1 => the single largest value
    assert r.es_99 == 99.0    # tail mean of exactly one row


# ---------------------------------------------------------------------------
# ACF: exact integer identity == numpy direct computation
# ---------------------------------------------------------------------------


def test_acf_identity_matches_numpy():
    rng = np.random.default_rng(3)
    y = rng.integers(100, 10_000, 200).astype(np.float64)
    n = len(y)
    m = y.mean()
    den = ((y - m) ** 2).sum()
    for k in (1, 24):
        num = ((y[:-k] - m) * (y[k:] - m)).sum()
        direct = num / den
        # the query's cleared form
        s = y.sum()
        syy = (y[:-k] * y[k:]).sum()
        sh, st, npairs = y[:-k].sum(), y[k:].sum(), n - k
        cleared = (n * n * syy - n * s * (sh + st) + npairs * s * s) / (
            n * n * (y * y).sum() - n * s * s
        )
        assert math.isclose(direct, cleared, rel_tol=1e-12)


# ---------------------------------------------------------------------------
# NDCG: short-corpus IDCG (n_relevant < k) path
# ---------------------------------------------------------------------------


def test_ndcg_short_corpus_idcg(spark, tmp_path):
    """A 7-vector corpus where only 2 share the query's label: IDCG
    must be the prefix sum at 2, not at k=10; with the two relevant
    vectors engineered to rank 1-2, NDCG must be exactly 1.0."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    dim = 4
    q = np.array([1.0, 0.0, 0.0, 0.0], dtype=np.float32)
    vecs = [q]  # vec_id 0 = the query
    labels = [7]
    # two relevant vectors almost parallel to q -> top ranks
    vecs += [np.array([1.0, 0.01, 0, 0], dtype=np.float32),
             np.array([1.0, 0.02, 0, 0], dtype=np.float32)]
    labels += [7, 7]
    rng = np.random.default_rng(5)
    for _ in range(4):  # irrelevant, far from q
        v = rng.normal(size=dim).astype(np.float32)
        v[0] = -abs(v[0])
        vecs.append(v)
        labels.append(3)
    pq.write_table(
        pa.table({
            "vec_id": np.arange(len(vecs), dtype=np.int64),
            "embedding": pa.array([v.tolist() for v in vecs],
                                  type=pa.list_(pa.float32())),
            "label": np.array(labels, dtype=np.int32),
        }),
        os.path.join(str(tmp_path), "embeddings.parquet"),
    )
    r = QS["eval_ndcg_at_k"].fn(spark, str(tmp_path)).collect()[0]
    assert r.n_relevant == 2
    assert r.idcg_ppm == 1000000 + 630930  # prefix sum at min(2, 10)
    assert r.dcg_ppm == r.idcg_ppm
    assert r.ndcg == 1.0


# ---------------------------------------------------------------------------
# Backbone path length: the degeneracy pin
# ---------------------------------------------------------------------------


def test_backbone_path_length_not_degenerate(spark):
    """The RAW brand projection is complete at every driver SF
    (diameter 1, APL exactly 1.0 — a constant). The registered query
    measures the top-40%% weighted backbone instead; this pins that
    the backbone actually has distance structure."""
    r = QS["graph_avg_path_length"].fn(spark, SF).collect()[0]
    assert r.diameter >= 2, r
    assert r.avg_path_len > 1.0, r


# ---------------------------------------------------------------------------
# Rich club: bounds + club size
# ---------------------------------------------------------------------------


def test_rich_club_bounds(spark):
    r = QS["graph_rich_club_weighted"].fn(spark, SF).collect()[0]
    assert r.n_rich == 5  # ceil(25 / 5)
    assert 0 < r.w_rich <= r.w_top
    assert 0.0 < r.phi_w <= 1.0


# ---------------------------------------------------------------------------
# Bootstrap: determinism + interval sanity
# ---------------------------------------------------------------------------


def test_bootstrap_ci_deterministic_and_ordered(spark):
    f = QS["stats_bootstrap_ci_hash"].fn
    r1 = f(spark, SF).collect()[0]
    r2 = f(spark, SF).collect()[0]
    assert r1 == r2  # hash resampling: no RNG, no run-to-run drift
    assert r1.ci_lo <= r1.ci_hi
    # the m-out-of-n replica means straddle the point estimate loosely
    assert r1.ci_lo <= r1.point_mean * 1.05
    assert r1.ci_hi >= r1.point_mean * 0.95


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))


# ---------------------------------------------------------------------------
# Atomic version publish: concurrent builders of the SAME batch
# ---------------------------------------------------------------------------


def _one_batch(spark):
    return spark.createDataFrame(
        [(1, 7, "click", 1.0), (2, 8, "buy", 2.0), (3, 7, "click", 3.0)],
        "event_id long, user_id long, event_type string, value double",
    )


@pytest.mark.parametrize(
    "factory", ["make_upsert_sink", "make_topk_fold_sink", "make_kmv_fold_sink"]
)
def test_upsert_publish_race_single_winner(spark, tmp_path, factory):
    """Two sessions delivering the SAME batch concurrently (the
    at-least-once overlap case): the version-addressed rename makes
    exactly one publish win; the loser discards its build and defers.
    Every fold sink shares the commit, so for each the table must hold
    the batch folded ONCE (equal to a single delivery in a fresh root)
    and the root exactly one version dir and no orphaned .build_* dirs."""
    import threading

    make = getattr(pipelines, factory)
    root = str(tmp_path / "tbl")
    sink = make(root)
    batch = _one_batch(spark)
    errs = []

    def run():
        try:
            sink(batch, 0)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    names = sorted(os.listdir(root))
    assert names == ["v_0"], names  # one winner, zero orphaned builds
    clean = str(tmp_path / "clean")
    make(clean)(batch, 0)

    def rows(r):
        return sorted(map(tuple, spark.read.parquet(os.path.join(r, "v_0")).collect()))

    assert rows(root) == rows(clean)
    if factory == "make_upsert_sink":
        got = {r[0]: (r[1], float(r[2])) for r in rows(root)}
        assert got == {"click": (2, 4.0), "buy": (1, 2.0)}
