"""Vector / similarity query inventory (SURVEY.md §2.9, V1–V7).

The query vector is the embedding of vec_id=0 — looked up driver-side
(single-row point read, exactly what the reference does when it embeds
the user's query string) and inlined into the plan as an array literal.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sales_agent_graphdb_spark import catalog
from sales_agent_graphdb_spark.functions.scalar import md5_int_sql
from sales_agent_graphdb_spark.operators import similarity as sim
from sales_agent_graphdb_spark.registry import register
from sales_agent_graphdb_spark.session import materialize

# Reference constants: retriever k=5 (db_service.py:201-204), cache
# threshold 0.85 (semantic_cache.py:35-49). The testdata embeddings are
# random (max pairwise cosine ≈ 0.37), so the oracle-checked probe uses
# a data-informed threshold; the operator default stays 0.85.
K = 5
PROBE_THRESHOLD = 0.30


# Query vectors by (embeddings path, vec_id): (file signature, vector).
_QUERY_VECS: dict[tuple[str, int], tuple[tuple, list[float]]] = {}


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """The embedding of ``vec_id``, read once per embeddings file
    signature (``catalog.path_signature``): a warm call reads no vector."""
    path = f"{sf_dir}/embeddings.parquet"
    sig = catalog.path_signature(path)
    key = (os.path.abspath(path), vec_id)
    hit = _QUERY_VECS.get(key)
    if sig is not None and hit is not None and hit[0] == sig:
        return list(hit[1])
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").head()
    vec = [float(x) for x in row.embedding]
    if sig is not None:
        _QUERY_VECS[key] = (sig, vec)
    return list(vec)


def _oracle_knn(
    k: int, threshold: float | None = None, labels: tuple[int, ...] = ()
) -> str:
    """DuckDB mirror of ``sim.knn`` for the vec_id=0 query vector:
    ``labels`` is the pre-filter (``label IN labels``, carried as a
    column), ``threshold`` a floor on the sim."""
    cos = sim.duckdb_cosine_sql("e.embedding", "q.embedding")
    conds = f"AND {cos} >= {threshold}" if threshold is not None else ""
    carry = ""
    if labels:
        conds += f" AND e.label IN ({', '.join(str(l) for l in labels)})"
        carry = "e.label, "
    return f"""
    SELECT e.vec_id, {carry}{cos} AS sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
    WHERE e.vec_id <> 0 {conds}
    ORDER BY sim DESC, e.vec_id LIMIT {k}
    """


def _overlap_ok(exact_top: DataFrame, approx_top: DataFrame, floor: int) -> DataFrame:
    """One row: ``recall_ok`` = |approx_top ∩ exact_top| (by vec_id) >= floor."""
    overlap = approx_top.join(exact_top.select("vec_id"), "vec_id", "left_semi")
    return overlap.agg((F.count(F.lit(1)) >= floor).alias("recall_ok"))


def _recall_verdict(
    exact_top: DataFrame, approx_top: DataFrame, floor: int, **consts
) -> DataFrame:
    """The verdict row of an approximate top-k: the exact top-k ids,
    ``consts`` as literal columns (in keyword order), and ``recall_ok``
    from the approximate path's overlap with the exact ids. exact_ids
    is a comma-joined STRING, not array<long>: the driver canonicalizes
    results through pandas, which cannot hash list cells (scalar-only
    outputs are enforced by tests/test_oracle_parity.py)."""
    ids = F.concat_ws(",", F.sort_array(F.collect_list("vec_id")))
    return (
        exact_top.agg(ids.alias("exact_ids"))
        .crossJoin(_overlap_ok(exact_top, approx_top, floor))
        .select(
            "exact_ids", *[F.lit(v).alias(n) for n, v in consts.items()], "recall_ok"
        )
    )


def _oracle_verdict(labels: tuple[int, ...] = (), **consts: object) -> str:
    """DuckDB mirror of ``_recall_verdict`` over the exact top-K:
    ``consts`` are SQL expressions; recall_ok is asserted TRUE."""
    cols = "".join(f"{v} AS {n}, " for n, v in consts.items())
    return f"""
    WITH exact AS ({_oracle_knn(K, labels=labels)})
    SELECT array_to_string(list_sort(list(vec_id)), ',') AS exact_ids,
           {cols}TRUE AS recall_ok
    FROM exact
    """


@register("v1_knn_cosine_top5", oracle=_oracle_knn(K))
def v1_knn_cosine_top5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 — exact cosine k-NN, k=5 (reference db_service.py:336-358).
    JVM-side zip_with/aggregate scoring + TakeOrderedAndProject top-k;
    the DuckDB oracle mirrors the fold order for bit-identical sims."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.knn(emb, _query_vec(spark, sf_dir), k=K, exclude_ids=[0])


@register("v2_semantic_cache_probe", oracle=_oracle_knn(1, PROBE_THRESHOLD))
def v2_semantic_cache_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 — thresholded top-1 semantic-cache probe (reference
    semantic_cache.py:27-58): hit iff cosine ≥ threshold."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.semantic_cache_probe(
        emb, _query_vec(spark, sf_dir), threshold=PROBE_THRESHOLD, exclude_ids=[0]
    )


@register(
    "v3_cache_upsert",
    oracle="""
    SELECT vec_id, label FROM embeddings WHERE vec_id % 50 <> 0
    UNION ALL
    SELECT vec_id, 999 AS label FROM embeddings WHERE vec_id % 50 = 0
    ORDER BY vec_id
    """,
)
def v3_cache_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 — keyed cache upsert, new wins (reference
    semantic_cache.py:60-74 `upsert(ids=[f"cache_{hash(q)}"])`):
    existing ⟕anti new ∪ new. The same keyed-merge pattern as G2/M2."""
    emb = catalog.load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    new = (
        emb.filter(F.col("vec_id") % 50 == 0)
        .select("vec_id", F.lit(999).cast("int").alias("label"))
    )
    merged = emb.join(new, "vec_id", "left_anti").unionByName(new)
    return merged.orderBy("vec_id")


@register(
    "v6_conditional_format",
    oracle="""
    SELECT doc_id,
           CASE WHEN source = 'src1'
                THEN text || ' [engagement: ' || CAST(n_chars AS VARCHAR) || ' likes]'
                ELSE text END AS formatted
    FROM documents ORDER BY doc_id
    """,
)
def v6_conditional_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V6 — per-source conditional metadata formatting (reference
    db_service.py:215-234: engagement metrics appended iff
    engagement_type == 'facebook_post')."""
    d = catalog.load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.when(
            F.col("source") == "src1",
            F.concat(
                F.col("text"),
                F.lit(" [engagement: "),
                F.col("n_chars").cast("string"),
                F.lit(" likes]"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("formatted"),
    ).orderBy("doc_id")


@register(
    "v4_deterministic_embed",
    oracle=f"""
    SELECT doc_id,
           CAST(({md5_int_sql("text", hex_digits=8)} % 1000) AS DOUBLE) / 1000.0 AS e0,
           CAST((CAST(('0x' || substr(md5(text), 9, 8)) AS BIGINT) % 1000) AS DOUBLE) / 1000.0 AS e1
    FROM documents ORDER BY doc_id
    """,
)
def v4_deterministic_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 — embedding computation (reference db_service.py:193 calls
    OpenAI per chunk). The model call is pluggable; here a
    deterministic content-hash embedding stands in (same shape:
    text -> fixed-width float vector), computed JVM-side. The
    pandas-UDF batch-embed path for a real model lives in
    operators/embed.py."""
    d = catalog.load_table(spark, sf_dir, "documents")

    def hash_dim(start: int):
        hexpart = F.substring(F.md5(F.col("text")), start, 8)
        return (F.conv(hexpart, 16, 10).cast("bigint") % 1000).cast("double") / 1000.0

    return d.select(
        "doc_id",
        hash_dim(1).alias("e0"),
        hash_dim(9).alias("e1"),
    ).orderBy("doc_id")


@register(
    "v8_embedding_qc",
    oracle="""
    WITH m AS (
      SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS l2_norm,
             CAST(len(list_filter(embedding, x -> isnan(x) OR isinf(x))) AS INT)
               AS n_nonfinite,
             CAST(len(list_filter(embedding, x -> x = 0)) AS INT) AS n_zero
      FROM embeddings)
    SELECT vec_id, dim, l2_norm, n_nonfinite, n_zero,
           (abs(l2_norm - 1.0) <= 0.001) AS is_unit_norm,
           (n_nonfinite = 0 AND n_zero < dim AND l2_norm > 0.0) AS qc_pass
    FROM m ORDER BY vec_id
    """,
)
def v8_embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column QC gate (dim / L2 norm / non-finite / zero
    counts + pass flags) — the pre-index sanity sweep of a vector
    pipeline. Single codegen projection, no shuffle; the L2 norm is the
    same left-to-right fold as the cosine operators, so the DuckDB
    mirror (list_sum over list order) is bit-exact."""
    e = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.embedding_qc(e).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Hard-negative mining — for each query vector, the nearest vectors
# with a DIFFERENT label (the contrastive-training pair-mining step of
# an embedding-model data pipeline). Expressed as a broadcast
# HASH join, not a nested loop: each query row expands to the 9
# other-label keys, so the query side stays a tiny broadcast and the
# corpus joins on `label` equality — the negatives constraint IS the
# join key.
# ---------------------------------------------------------------------------

_HN_QUERIES = 10  # vec_id < 10 are the mining queries
_HN_K = 3


@register(
    "ann_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb
      FROM embeddings WHERE vec_id < {_HN_QUERIES}),
    scored AS (
      SELECT q.q_id, q.q_label, e.vec_id AS neg_id, e.label AS neg_label,
             {sim.duckdb_cosine_sql("e.embedding", "q.q_emb")} AS sim
      FROM q JOIN embeddings e ON e.label <> q.q_label),
    rk AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY q_id ORDER BY sim DESC, neg_id) AS INT) AS rk
      FROM scored)
    SELECT q_id, q_label, neg_id, neg_label, sim, rk
    FROM rk WHERE rk <= {_HN_K} ORDER BY q_id, rk
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: top-3 highest-cosine
    other-label vectors per query vector (vec_id < 10).

    Spark-first shape: the 10 queries explode to (query, other-label)
    keys — 90 broadcast rows — and the corpus joins on `label`
    EQUALITY (BroadcastHashJoin, never a nested-loop label<>label
    join). Scoring is the shared left-to-right cosine fold; ranking is
    a window partitioned per query (10 shards, never global). At
    100 TB the corpus side is one scan; with an ANN index the same
    join runs against the LSH/IVF candidate set instead (ann.py) and
    this exact form becomes the rerank stage."""
    from pyspark.sql import Window

    emb = catalog.load_table(spark, sf_dir, "embeddings")
    # Label DOMAIN from the data (driver-side point read, like the
    # query vector itself) — hardcoding it would silently drop
    # negatives if the corpus ever carries a different class set,
    # while the oracle's label <> q_label keeps mining them.
    labels = sorted(
        r.label for r in emb.select("label").distinct().collect()
    )
    q = emb.filter(F.col("vec_id") < _HN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
    )
    q_exp = q.withColumn(
        "label",
        F.explode(
            F.filter(
                F.array(*[F.lit(int(l)) for l in labels]),
                lambda l: l != F.col("q_label"),
            )
        ),
    )
    scored = emb.join(F.broadcast(q_exp), "label").select(
        "q_id",
        "q_label",
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        sim.cosine(F.col("embedding"), F.col("q_emb")).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col("neg_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= _HN_K)
        .select("q_id", "q_label", "neg_id", "neg_label", "sim", "rk")
        .orderBy("q_id", "rk")
    )


# ---------------------------------------------------------------------------
# Symmetric int8 embedding quantization — the storage-scale path for a
# 100 TB vector corpus (4x smaller than float32, 8x smaller than the
# float64 Spark works in): per-vector scale = max|x|/127, q = round
# half-up(x/scale) clipped to [-127, 127], plus the reconstruction
# error report (MSE + max abs error) a pipeline uses to validate the
# quantizer before swapping the serving index over to it.
# ---------------------------------------------------------------------------

# Shared rounding form: floor(x/scale + 0.5) — written explicitly
# instead of round() because Spark HALF_UP and DuckDB round() disagree
# on negative halves; floor(+0.5) is the same IEEE op on both engines.
_Q_SQL = (
    "least(CAST(127 AS DOUBLE), greatest(CAST(-127 AS DOUBLE), "
    "floor(CAST(x AS DOUBLE) / scale + CAST(0.5 AS DOUBLE))))"
)


@register(
    "vec_quantize_int8",
    oracle=f"""
    WITH t AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
               / CAST(127 AS DOUBLE) AS scale
      FROM embeddings)
    SELECT vec_id, scale,
           list_sum(list_transform(embedding,
               x -> (CAST(x AS DOUBLE) - {_Q_SQL} * scale)
                    * (CAST(x AS DOUBLE) - {_Q_SQL} * scale)))
             / CAST(len(embedding) AS DOUBLE) AS mse,
           list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE) - {_Q_SQL} * scale))) AS max_abs_err
    FROM t ORDER BY vec_id
    """,
)
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization error report: scale,
    reconstruction MSE, max abs element error.

    Pure map-side JVM column math (transform/aggregate higher-order
    functions inside whole-stage codegen) — no shuffle, no UDF. The
    rounding is floor(x/scale + 0.5) on both engines (portable
    half-up; see _Q_SQL note), max is order-independent, and the MSE
    sum is the same left-to-right fold as the cosine operators, so the
    oracle is bit-exact. At 100 TB this runs as one pass over the
    embedding column; the quantized arrays themselves would be written
    back as array<tinyint> + scale, shrinking the ANN index 4x."""
    e = catalog.load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    scale = (
        F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    ).alias("scale")
    t = e.select("vec_id", v.alias("embedding"), scale)
    s = F.col("scale")

    def _err(x):
        q = F.least(
            F.lit(127.0),
            F.greatest(F.lit(-127.0), F.floor(x.cast("double") / s + F.lit(0.5))),
        )
        return x.cast("double") - q * s

    mse = (
        F.aggregate(
            F.transform(F.col("embedding"), lambda x: _err(x) * _err(x)),
            F.lit(0.0),
            lambda acc, val: acc + val,
        )
        / F.size(F.col("embedding")).cast("double")
    )
    max_err = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(_err(x))))
    return t.select(
        "vec_id", "scale", mse.alias("mse"), max_err.alias("max_abs_err")
    ).orderBy("vec_id")


_FILTER_LABELS = (3, 7)


@register("ann_filtered_exact_topk", oracle=_oracle_knn(K, labels=_FILTER_LABELS))
def ann_filtered_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — top-5 nearest among vectors whose
    metadata passes a predicate (label ∈ {labels}) — the constrained-
    retrieval shape every production vector store must answer and the
    classic ANN hard case: POST-filtering an index's top-k underfetches
    whenever the filter is selective (k survivors of a filter that
    keeps 20% need ~5k candidates fetched), so correct semantics are
    defined by the PRE-FILTER form certified here: predicate pushed to
    the scan (PushedFilters, pinned in tests/test_plans.py), cosine
    scored map-side on the survivors only, top-k as
    TakeOrderedAndProject. At 100 TB the same pre-filter composes with
    the partition-pruned IVF path (filter cells first, then the
    metadata predicate inside each probed cell); an indexed filtered
    variant must OVERFETCH by 1/selectivity to match this baseline —
    that contract is the docstring's warning to implementers."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    return sim.knn(
        emb,
        _query_vec(spark, sf_dir),
        k=K,
        exclude_ids=[0],
        where=F.col("label").isin(*_FILTER_LABELS),
        carry=["label"],
    )


ann_filtered_exact_topk.__doc__ = ann_filtered_exact_topk.__doc__.format(
    labels=set(_FILTER_LABELS)
)


# ---------------------------------------------------------------------------
# MMR diversified re-ranking (round 8)
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7   # the standard relevance/diversity tradeoff
_MMR_PREFETCH = 20  # k' candidates fetched before the greedy rerank


def _oracle_mmr(k: int, kp: int, lam: float) -> str:
    """Unrolled k-step greedy as chained CTEs: s1 = most-relevant; each
    s_i = argmax over remaining of lam*sim_q - (1-lam)*max(sim to the
    already-selected), ties to lowest vec_id — the exact expression the
    Spark side evaluates (same fold-order cosines, same `(1 - lam)`
    spelling so the doubles agree bit-for-bit)."""
    cos_q = sim.duckdb_cosine_sql("e.embedding", "q.embedding")
    cos_ab = sim.duckdb_cosine_sql("a.embedding", "b.embedding")
    parts = [f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding, {cos_q} AS sim_q
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY sim_q DESC, e.vec_id LIMIT {kp}),
    pair AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib, {cos_ab} AS sim_ab
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    s1 AS (SELECT vec_id, sim_q FROM cand ORDER BY sim_q DESC, vec_id LIMIT 1)"""]
    prev = ["s1"]
    for i in range(2, k + 1):
        union = " UNION ALL ".join(f"SELECT vec_id FROM {s}" for s in prev)
        parts.append(f""",
    sel{i} AS ({union}),
    s{i} AS (
      SELECT c.vec_id, c.sim_q
      FROM cand c JOIN pair p ON p.ia = c.vec_id
                              AND p.ib IN (SELECT vec_id FROM sel{i})
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i})
      GROUP BY c.vec_id, c.sim_q
      ORDER BY {lam} * c.sim_q - (1 - {lam}) * MAX(p.sim_ab) DESC,
               c.vec_id LIMIT 1)""")
        prev.append(f"s{i}")
    final = "\n    UNION ALL ".join(
        f"SELECT {i + 1} AS sel_rank, vec_id, sim_q AS sim FROM {s}"
        for i, s in enumerate(prev)
    )
    return "".join(parts) + "\n    " + final + "\n    ORDER BY sel_rank"


@register(
    "vec_mmr_rerank",
    oracle=_oracle_mmr(K, _MMR_PREFETCH, _MMR_LAMBDA),
)
def vec_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR (maximal marginal relevance) DIVERSIFIED top-k — the rerank
    every production RAG retriever runs between ANN prefetch and the
    prompt (reference's retriever returns plain top-5,
    db_service.py:201-204; MMR is its standard diversity upgrade):
    greedily pick argmax of lam*sim(query,d) - (1-lam)*max_{s in
    selected} sim(d,s), so near-duplicate passages don't crowd out
    coverage.

    Scale split, explicit: the DISTRIBUTED part is the candidate
    prefetch (exact top-k'=20 cosine over the corpus —
    TakeOrderedAndProject over one scan) and the k'xk' pairwise-sim
    frame (bounded 380 rows, computed IN-PLAN with the same fold-order
    cosine as the oracle). The greedy selection itself consumes only
    those k'^2 doubles — scale-INDEPENDENT by construction (grows with
    the rerank window, never the corpus), evaluated driver-side like
    the IVF centroid reads, with the SAME expression spelling as the
    oracle's unrolled CTEs (`lam*sim_q - (1 - lam)*max_pair`, ties to
    lowest vec_id) so every comparison is over bit-identical doubles.
    Output rows join the selection back into the plan (broadcast
    5-row literal frame), so the returned sims are plan-computed. The
    measured effect at sf0.01: rank-2 pick jumps from the 2nd-most-
    similar to a LESS similar but unredundant vector (sim order
    non-monotone in the output — diversification is real, and the
    oracle hash pins it)."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    # Eager: tiny (k' rows); both self-join sides below read it.
    cands = materialize(
        sim.knn(emb, qv, k=_MMR_PREFETCH, exclude_ids=[0], carry=["embedding"]),
        eager=True,
    )
    a, b = cands.alias("a"), cands.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            sim.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("s"),
        )
    )
    sim_q = {r["vec_id"]: r["sim"] for r in cands.select("vec_id", "sim").collect()}
    pair = {(r["ia"], r["ib"]): r["s"] for r in pairs.collect()}
    lam = _MMR_LAMBDA
    sel = [min(sim_q, key=lambda i: (-sim_q[i], i))]
    while len(sel) < K:
        rem = [c for c in sim_q if c not in sel]

        def mmr(c):
            return lam * sim_q[c] - (1 - lam) * max(pair[(c, s)] for s in sel)

        sel.append(min(rem, key=lambda c: (-mmr(c), c)))
    ranks = spark.createDataFrame(
        [(i + 1, v) for i, v in enumerate(sel)], "sel_rank int, vec_id long"
    )
    return (
        cands.join(F.broadcast(ranks), "vec_id")
        .select("sel_rank", "vec_id", "sim")
        .orderBy("sel_rank")
    )


# Johnson–Lindenstrauss random projection: 64 -> _JL_DIM dims through a
# fixed ±1 sign matrix (Achlioptas 2003's database-friendly variant,
# density 1). The matrix is generated ONCE from a seeded stdlib
# Mersenne Twister (platform-stable) and inlined into BOTH plans as
# literals, so the two engines run the identical expression tree —
# there is no RNG at query time anywhere.
_JL_DIM = 8
_JL_IN_DIM = 64
_JL_K = 5


def _jl_signs() -> list[list[float]]:
    import random

    rng = random.Random(0x0A8)
    return [
        [1.0 if rng.random() < 0.5 else -1.0 for _ in range(_JL_IN_DIM)]
        for _ in range(_JL_DIM)
    ]


def _jl_project_py(vec: list[float], signs: list[list[float]]) -> list[float]:
    # strict left fold, same order as operators.similarity.dot
    out = []
    for row in signs:
        acc = 0.0
        for s, v in zip(row, vec):
            acc = acc + (v * s)
        out.append(acc)
    return out


def _jl_oracle() -> str:
    signs = _jl_signs()

    def proj_sql(vec: str) -> str:
        comps = []
        for row in signs:
            lits = "[" + ", ".join(f"{s:.1f}" for s in row) + "]"
            comps.append(
                f"list_sum(list_transform(list_zip({vec}, {lits}),"
                f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
            )
        return "[" + ", ".join(comps) + "]"

    cos_p = sim.duckdb_cosine_sql("p.pv", "q.pv")
    cos_t = sim.duckdb_cosine_sql("p.embedding", "q.embedding")
    return f"""
    WITH proj AS (
      SELECT vec_id, embedding, {proj_sql('embedding')} AS pv
      FROM embeddings),
    q AS (SELECT embedding, pv FROM proj WHERE vec_id = 0)
    SELECT p.vec_id,
           ROUND({cos_p}, 6) AS proj_sim,
           ROUND({cos_t}, 6) AS true_sim
    FROM proj p, q
    WHERE p.vec_id <> 0
    ORDER BY {cos_p} DESC, p.vec_id LIMIT {_JL_K}
    """


@register("vec_random_projection_topk", oracle=_jl_oracle())
def vec_random_projection_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOM-PROJECTION (Johnson–Lindenstrauss) top-k — dimensionality
    reduction as a retrieval prefilter: every 64-dim embedding is
    projected to 8 dims through a fixed ±1 sign matrix (each projected
    component is ONE dot() fold against a literal sign row — 8 fused
    JVM folds per row, whole-stage codegen, no Python), and the top-5
    by PROJECTED cosine is returned with both the projected and the
    true cosine per hit, so the distortion the JL lemma bounds is
    visible in the result itself.

    Scale: the projection is map-side column math on the scan — at
    100 TB it cuts vector bytes 8x BEFORE any index build or shuffle
    (project once, write the skinny column next to the full one;
    distance-threshold tasks — dedup cuts, clustering — then read
    1/8th the bytes). Top-k is TakeOrderedAndProject — no global
    sort. The matrix rides the plan as literals: no broadcast, no
    side file, bit-reproducible across engines, rebuilds, and
    cluster sizes.

    Measured pushback (2026-08, this corpus): what survives at d=8 is
    the JL NORM guarantee — squared-norm ratio unbiased (mean
    0.97-1.00 at every SF, pinned in tests) — not top-k ORDER: the
    embeddings are near-random with neighbor/bulk cosine gap ~0.1,
    smaller than d=8 distortion, so projected top-5 recall vs the
    true top-5 is 0-2/5 and the worst true neighbor sits at projected
    rank 1307/2000 at sf0.1 (measured at d=16 too — not a width
    problem). So this query's CONTRACT is the deterministic projected
    top-k itself (both engines replay the identical rule — exact
    equality, no recall oracle), with true_sim exposed per hit so the
    distortion is visible; on signal-bearing corpora the same plan is
    the standard shortlist generator, and the ann_* family (IVF/LSH
    on FULL vectors) remains the production recall path here.

    The query's own projection is computed driver-side with the
    IDENTICAL strict left fold (exact ±1 products, IEEE adds — bit-
    equal to the in-engine fold); sims round to 6 dp on both sides."""
    signs = _jl_signs()
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    pv = F.array(
        *[sim.dot(F.col("embedding"), sim.lit_vector(row)) for row in signs]
    )
    qv = _query_vec(spark, sf_dir)
    q_pv = _jl_project_py(qv, signs)
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        sim.cosine_to(pv, q_pv).alias("ps"),
        sim.cosine_to(F.col("embedding"), qv).alias("ts"),
    )
    return (
        scored.orderBy(F.col("ps").desc(), "vec_id")
        .limit(_JL_K)
        .select(
            "vec_id",
            F.round("ps", 6).alias("proj_sim"),
            F.round("ts", 6).alias("true_sim"),
        )
    )


_HAM_CAND = 50
_HAM_RECALL_FLOOR = 2  # measured 4/4/3 at C=50 at sf0.001/0.01/0.1 (2026-08)


def _sign_word(vec: F.Column, lo: int, n: int) -> F.Column:
    """Pack sign bits [lo, lo+n) into a BIGINT (n <= 62 keeps every
    engine's signed shift happy — two 32-bit words cover 64 dims)."""
    acc = F.lit(0).cast("bigint")
    for i in range(lo, lo + n):
        acc = acc + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(1 << (i - lo)).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return acc


@register(
    "vec_binary_hamming_topk",
    oracle=_oracle_verdict(n_candidates=_HAM_CAND, bits_per_vector=64),
)
def vec_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY-HASH ANN (sign-bit quantization + Hamming distance): each
    64-dim vector collapses to its sign bitmap — 64 BITS, the extreme
    end of the compression ladder (float32 2048 bits → PQ 64 → this
    64) — packed engine-side into two 32-bit words; candidates are the
    C={cand} nearest by Hamming distance (two XOR+popcount ops per
    comparison — the cheapest distance computable), exact rerank on
    survivors. Measured recall 4/4/3 at the three SFs — EQUAL to
    IVF-PQ's at the same bit budget with ZERO training, because this
    corpus is isotropic (near-random): sign bits are as informative as
    learned codebooks when there is no cluster structure to learn.
    The three docstrings (JL / PQ / this) jointly document the
    compression-ladder decision: random projection loses order, sign
    bits tie PQ on isotropic data, PQ wins when data clusters.

    Contract: same as ann_pq_adc_topk — oracle-checked exact top-5
    truth + the deterministic recall verdict (floor {floor}; sign
    bits have no RNG at all, so the verdict cannot flip)."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    v = F.col("embedding")
    sigs = emb.filter(F.col("vec_id") != 0).select(
        "vec_id",
        "embedding",
        _sign_word(v, 0, 32).alias("w0"),
        _sign_word(v, 32, 32).alias("w1"),
    )
    # r12: the query row's sign words derive from qv (already collected
    # above) with the same `> 0` comparison on the same doubles — one
    # fewer driver action than the old second .head() over the scan.
    qw0 = sum(1 << i for i in range(32) if qv[i] > 0)
    qw1 = sum(1 << i for i in range(32) if qv[32 + i] > 0)
    ham = sigs.select(
        "vec_id",
        "embedding",
        (
            F.bit_count(F.col("w0").bitwiseXOR(F.lit(qw0)))
            + F.bit_count(F.col("w1").bitwiseXOR(F.lit(qw1)))
        ).alias("h"),
    )
    cands = ham.orderBy("h", "vec_id").limit(_HAM_CAND)
    return _recall_verdict(
        sim.knn(emb, qv, k=K, exclude_ids=[0]),
        sim.knn(cands, qv, k=K),
        _HAM_RECALL_FLOOR,
        n_candidates=_HAM_CAND,
        bits_per_vector=64,
    )


vec_binary_hamming_topk.__doc__ = vec_binary_hamming_topk.__doc__.format(
    cand=_HAM_CAND, floor=_HAM_RECALL_FLOOR
)


# NDCG@10 discount weights in ppm: round(1e6 / log2(i+1)) for rank
# i = 1..10, and their prefix sums (the ideal DCG for r relevant docs).
# PRECOMPUTED Python literals inlined into BOTH statements — the
# Benford/power-analysis discipline: no log2 executes in either engine.
_NDCG_K = 10
_NDCG_W_PPM = [1000000, 630930, 500000, 430677, 386853, 356207, 333333,
               315465, 301030, 289065]
_NDCG_CUM_PPM = [1000000, 1630930, 2130930, 2561607, 2948460, 3304667,
                 3638000, 3953465, 4254495, 4543560]


def _ndcg_oracle() -> str:
    cos = sim.duckdb_cosine_sql("e.embedding", "q.embedding")
    w_case = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W_PPM)
    )
    cum_case = " ".join(
        f"WHEN {i + 1} THEN {c}" for i, c in enumerate(_NDCG_CUM_PPM)
    )
    return f"""
    WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0),
    top AS (
      SELECT e.vec_id, e.label, {cos} AS sim
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY sim DESC, e.vec_id LIMIT {_NDCG_K}),
    r AS (
      SELECT label, row_number() OVER (ORDER BY sim DESC, vec_id) AS rk
      FROM top),
    rel AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM embeddings e, q WHERE e.vec_id <> 0 AND e.label = q.label),
    d AS (
      SELECT CAST(SUM(CASE WHEN r.label = q.label
                   THEN CASE rk {w_case} ELSE 0 END ELSE 0 END) AS BIGINT)
               AS dcg_ppm
      FROM r, q)
    SELECT CAST(q.label AS BIGINT) AS query_label, rel.n_rel AS n_relevant,
           d.dcg_ppm,
           CAST(CASE (CASE WHEN rel.n_rel < {_NDCG_K}
                           THEN rel.n_rel ELSE {_NDCG_K} END)
                {cum_case} ELSE 0 END AS BIGINT) AS idcg_ppm,
           ROUND(CAST(d.dcg_ppm AS DOUBLE)
                 / (CASE (CASE WHEN rel.n_rel < {_NDCG_K}
                                THEN rel.n_rel ELSE {_NDCG_K} END)
                    {cum_case} ELSE NULL END), 6) AS ndcg
    FROM q, rel, d
    """


@register("eval_ndcg_at_k", oracle=_ndcg_oracle())
def eval_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the exact cosine retriever against label relevance —
    the standard RANKING-QUALITY metric every retrieval/RAG eval
    harness reports: rel_i = 1 iff the i-th retrieved vector shares
    the query's label; DCG discounts hits by 1/log2(rank+1); NDCG
    normalizes by the ideal ordering so 1.0 = perfect ranking. On
    random synthetic embeddings the expected value is low — the
    honest null baseline (labels are independent of geometry), same
    discipline as the stats_* family.

    Exactness: the ranking is v1_knn_cosine_top5's bit-identical
    strict-fold cosine with a (sim desc, vec_id) total order; the
    discounts are PRECOMPUTED ppm integer literals (no log2 runs in
    either engine), so DCG and IDCG are exact BIGINTs and ONE double
    division produces the metric. IDCG = prefix-sum literal at
    min(n_relevant, k) — correct when the corpus holds fewer than k
    relevant docs (the sf0.001 case).

    Scale: one map-side scored scan + TakeOrderedAndProject top-k
    (each partition keeps k, no global sort) + one count aggregate —
    the eval costs one pass regardless of corpus size."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding", "label").head()
    qvec, qlabel = [float(x) for x in qrow.embedding], int(qrow.label)
    scored = sim.knn(emb, qvec, k=_NDCG_K, exclude_ids=[0], carry=["label"])
    from pyspark.sql.window import Window as W

    r = scored.select(
        "label",
        F.row_number()
        .over(W.orderBy(F.col("sim").desc(), "vec_id"))
        .alias("rk"),
    )
    w_arr = F.array(*[F.lit(w) for w in _NDCG_W_PPM])
    dcg = r.agg(
        F.sum(
            F.when(
                F.col("label") == qlabel, F.element_at(w_arr, F.col("rk"))
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_ppm")
    )
    rel = emb.filter(
        (F.col("vec_id") != 0) & (F.col("label") == qlabel)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    cum_arr = F.array(*[F.lit(c) for c in _NDCG_CUM_PPM])
    out = dcg.crossJoin(F.broadcast(rel)).select(
        F.lit(qlabel).cast("bigint").alias("query_label"),
        F.col("n_rel").alias("n_relevant"),
        "dcg_ppm",
        F.when(
            F.col("n_rel") > 0,
            F.element_at(
                cum_arr, F.least(F.col("n_rel"), F.lit(_NDCG_K)).cast("int")
            ),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("idcg_ppm"),
    )
    return out.withColumn(
        "ndcg",
        F.round(
            F.col("dcg_ppm").cast("double")
            / F.when(F.col("idcg_ppm") > 0, F.col("idcg_ppm")),
            6,
        ),
    )


# MAP@10 over the first _MAP_NQ vectors as queries — precision terms
# ride exact ppm integers: (1e6 * cum_hits) div rank.
_MAP_K = 10
_MAP_NQ = 5


def _map_oracle() -> str:
    cos = sim.duckdb_cosine_sql("e.embedding", "q.qemb")
    return f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qemb, label AS qlabel
      FROM embeddings WHERE vec_id < {_MAP_NQ}),
    scored AS (
      SELECT q.qid, q.qlabel, e.vec_id, e.label, {cos} AS sim
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid),
    ranked AS (
      SELECT qid, qlabel, vec_id, label,
             row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, vec_id) AS rk
      FROM scored),
    hits AS (
      SELECT qid, qlabel, rk,
             CASE WHEN label = qlabel THEN 1 ELSE 0 END AS hit
      FROM ranked WHERE rk <= {_MAP_K}),
    cum AS (
      SELECT qid, qlabel, rk, hit,
             SUM(hit) OVER (PARTITION BY qid ORDER BY rk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM hits),
    per AS (
      SELECT qid, qlabel,
             CAST(SUM(hit) AS BIGINT) AS n_hits,
             CAST(SUM(CASE WHEN hit = 1 THEN (1000000 * c) // rk
                           ELSE 0 END) AS BIGINT) AS sum_prec_ppm
      FROM cum GROUP BY qid, qlabel),
    rel AS (
      SELECT q.qid, CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM embeddings e JOIN q
        ON e.label = q.qlabel AND e.vec_id <> q.qid
      GROUP BY q.qid)
    SELECT per.qid AS query_id,
           CAST(per.qlabel AS BIGINT) AS query_label,
           rel.n_rel AS n_relevant, per.n_hits, per.sum_prec_ppm,
           ROUND(CAST(per.sum_prec_ppm AS DOUBLE)
                 / (1000000.0 * LEAST(rel.n_rel, {_MAP_K})), 6)
             AS avg_precision
    FROM per JOIN rel ON rel.qid = per.qid
    ORDER BY query_id
    """


@register("eval_map_at_k", oracle=_map_oracle())
def eval_map_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 — MEAN AVERAGE PRECISION over a 5-query panel, the
    rank-sensitive retrieval metric next to eval_ndcg_at_k's single
    query: AP = (1/min(n_rel,k)) * SUM over hit ranks i of
    precision@i, reported per query so the driver hashes the whole
    panel (the mean is a trivial fold over the avg_precision column).
    On random synthetic embeddings AP sits near the label base rate —
    the honest null baseline, same discipline as NDCG.

    Exactness: every ranking uses the bit-identical strict-fold
    cosine with a (sim desc, vec_id) total order; each precision
    term is the exact ppm integer (1e6 * cum_hits) div rank
    (truncating-division parity, r10), so sum_prec_ppm is a BIGINT
    and ONE double division per query yields AP (6-dp round).

    Scale: the query panel is a BROADCAST against one scored corpus
    scan; top-k per query is TWO-PHASE — a local row_number per
    (query, input partition) keeps k rows per partition, then the
    global per-query window ranks only k * n_partitions survivors —
    so no per-query corpus-sized sort exists (the sharded-skyline
    shape applied to retrieval eval). Cum-precision windows run over
    k rows per query."""
    emb = catalog.load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _MAP_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qemb"),
        F.col("label").alias("qlabel"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "vec_id",
            "label",
            sim.cosine(F.col("embedding"), F.col("qemb")).alias("sim"),
        )
    )
    from pyspark.sql.window import Window as W

    wl = W.partitionBy("qid", "pid").orderBy(F.col("sim").desc(), "vec_id")
    cand = (
        scored.withColumn("pid", F.spark_partition_id())
        .withColumn("lrk", F.row_number().over(wl))
        .filter(F.col("lrk") <= _MAP_K)
        .drop("lrk", "pid")
    )
    wg = W.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    top = (
        cand.withColumn("rk", F.row_number().over(wg))
        .filter(F.col("rk") <= _MAP_K)
    )
    wc = W.partitionBy("qid").orderBy("rk").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    hits = top.select(
        "qid",
        "qlabel",
        "rk",
        F.when(F.col("label") == F.col("qlabel"), 1).otherwise(0).alias("hit"),
    ).withColumn("c", F.sum("hit").over(wc))
    per = hits.groupBy("qid", "qlabel").agg(
        F.sum("hit").cast("bigint").alias("n_hits"),
        F.sum(
            F.when(F.col("hit") == 1, F.expr("(1000000 * c) div rk")).otherwise(0)
        )
        .cast("bigint")
        .alias("sum_prec_ppm"),
    )
    rel = (
        emb.select("vec_id", "label")
        .crossJoin(F.broadcast(q.select("qid", "qlabel")))
        .filter(
            (F.col("vec_id") != F.col("qid"))
            & (F.col("label") == F.col("qlabel"))
        )
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    )
    return (
        per.join(F.broadcast(rel), "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("qlabel").cast("bigint").alias("query_label"),
            F.col("n_rel").alias("n_relevant"),
            "n_hits",
            "sum_prec_ppm",
            F.round(
                F.col("sum_prec_ppm").cast("double")
                / (F.lit(1000000.0) * F.least(F.col("n_rel"), F.lit(_MAP_K))),
                6,
            ).alias("avg_precision"),
        )
        .orderBy("query_id")
    )
