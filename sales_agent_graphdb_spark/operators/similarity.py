"""Vector similarity operators (SURVEY.md §2.9, V1–V2).

The reference delegates k-NN to ChromaDB's HNSW (db_service.py:201-204,
semantic_cache.py:22-25). Here the exact path is a pure JVM-side
expression: dot product / norms via ``zip_with`` + ``aggregate``
higher-order functions (whole-stage codegen, no Python), top-k via
TakeOrderedAndProject. All arithmetic is double-precision with a
deterministic left-to-right fold so the DuckDB oracle (written as the
same fold) matches bit-for-bit.

At 100 TB the exact path is the rerank stage; candidate generation goes
through the LSH operators in ``lsh.py`` (signature bucketing), keeping
the all-pairs cost off the table.

Every operator reads the embeddings table's own column names
(``ID_COL`` / ``VEC_COL``); they are not per-call options.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ID_COL = "vec_id"
VEC_COL = "embedding"


def dot(a: Column, b: Column) -> Column:
    """Σ a[i]·b[i], double accumulator, strict left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity = dot/(norm·norm); IEEE-deterministic given the
    fold order above."""
    return dot(a, b) / (norm(a) * norm(b))


def cosine_to(a: Column, query_vec: Sequence[float]) -> Column:
    """``cosine(a, lit_vector(query_vec))`` with the query vector's
    literal in the plan once, not three times: its norm is computed on
    the driver by the same left-to-right double fold as ``norm``, so
    every double is bit-identical to the all-Spark form."""
    vals = [float(x) for x in query_vec]
    acc = 0.0
    for x in vals:
        acc += x * x
    return dot(a, lit_vector(vals)) / (norm(a) * F.lit(math.sqrt(acc)))


def lit_vector(vec: Sequence[float]) -> Column:
    """A query vector as an array<double> literal (broadcast to every
    task inside the serialized plan — no shuffle, no closure). Built as
    ONE parsed SQL expression: per-element F.lit() columns cost one
    py4j round trip each (~100-200 ms of driver time per 64-dim vector,
    measured r12); the 'D' suffix pins DoubleType and repr() is the
    exact shortest round-trip double literal. Non-finite elements
    (inf/nan would render as the unparseable 'infD'/'nanD') and the
    empty vector (bare 'array()' parses as array<null>) fall back to
    the slower F.lit path, which builds valid literals for both
    (r13, ADVICE r12)."""
    vals = [float(x) for x in vec]
    if vals and all(math.isfinite(x) for x in vals):
        return F.expr("array(" + ",".join(repr(x) + "D" for x in vals) + ")")
    return F.array(*[F.lit(x).cast("double") for x in vals]).cast("array<double>")


def knn(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    exclude_ids: Sequence[int] | None = None,
    where: Column | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """V1 — exact cosine top-k (reference retriever k=5,
    db_service.py:336-358). One scan, map-side score, global top-k via
    sort+limit (TakeOrderedAndProject: each partition keeps k, driver
    merges — no full sort, no shuffle of the scored set).

    The one exact top-k every approximate path is checked against:
    ``where`` filters before scoring (a pre-filter, so only survivors
    are scored and the predicate reaches the scan), ``carry`` columns
    ride between the id and ``sim``; ties break to the lowest id."""
    if where is not None:
        embeddings = embeddings.filter(where)
    scored = embeddings.select(
        F.col(ID_COL),
        *carry,
        cosine_to(F.col(VEC_COL), query_vec).alias("sim"),
    )
    if exclude_ids:
        scored = scored.filter(~F.col(ID_COL).isin(*[int(i) for i in exclude_ids]))
    return scored.orderBy(F.col("sim").desc(), F.col(ID_COL)).limit(k)


def semantic_cache_probe(
    cache: DataFrame,
    query_vec: Sequence[float],
    threshold: float = 0.85,
    exclude_ids: Sequence[int] | None = None,
) -> DataFrame:
    """V2 — thresholded top-1 lookup (reference semantic_cache.py:27-58):
    hit iff best cosine ≥ threshold; empty result = cache miss.
    ``exclude_ids`` passes through to ``knn`` (a probe with a cached
    row's own vector skips that row)."""
    top1 = knn(cache, query_vec, k=1, exclude_ids=exclude_ids)
    return top1.filter(F.col("sim") >= threshold)


def duckdb_cosine_sql(vec_expr_a: str, vec_expr_b: str) -> str:
    """The DuckDB-side cosine written as the SAME left-to-right fold
    (list_sum of element products in list order), so both engines
    produce bit-identical doubles for the oracle hash."""
    prod = (
        f"list_sum(list_transform(list_zip({vec_expr_a}, {vec_expr_b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )
    na = (
        f"sqrt(list_sum(list_transform({vec_expr_a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    nb = (
        f"sqrt(list_sum(list_transform({vec_expr_b},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"({prod} / ({na} * {nb}))"


def embedding_qc(df: DataFrame) -> DataFrame:
    """Per-vector quality control for an embedding column — the sanity
    gate a training-data pipeline runs before indexing/dedup: dimension,
    L2 norm (same strict fold as ``dot``), non-finite and exact-zero
    element counts, a unit-norm flag, and a combined pass flag.

    Purely per-row column math (no shuffle, no corpus-global state):
    the plan is a single whole-stage-codegen projection, so it runs at
    scan speed on any corpus size. Corpus-level checks (norm outliers
    vs the distribution) belong in a separate aggregate so this gate
    stays embarrassingly parallel."""
    v = F.col(VEC_COL)
    inf, ninf = F.lit(float("inf")), F.lit(float("-inf"))
    l2 = F.sqrt(
        F.aggregate(
            v, F.lit(0.0), lambda a, x: a + x.cast("double") * x.cast("double")
        )
    )
    m = df.select(
        F.col(ID_COL),
        F.size(v).cast("int").alias("dim"),
        l2.alias("l2_norm"),
        F.size(
            F.filter(v, lambda x: F.isnan(x) | (x == inf) | (x == ninf))
        ).cast("int").alias("n_nonfinite"),
        F.size(F.filter(v, lambda x: x == F.lit(0.0))).cast("int").alias("n_zero"),
    )
    return m.select(
        "*",
        (F.abs(F.col("l2_norm") - 1.0) <= 0.001).alias("is_unit_norm"),
        (
            (F.col("n_nonfinite") == 0)
            & (F.col("n_zero") < F.col("dim"))
            & (F.col("l2_norm") > 0.0)
        ).alias("qc_pass"),
    )
