"""Batch embedding computation (SURVEY.md V4) — the Arrow path.

The reference embeds per chunk/query with a network call to
``text-embedding-3-small`` (db_service.py:193, semantic_cache.py:19).
Engine-side the operator is a *pluggable batched text→vector map*: a
``pandas_udf`` receives Arrow-transferred string batches and returns
``array<double>`` — swap ``_hash_vec`` for a real model client (one
RPC per batch, not per row) without touching the plan. The default is
a deterministic content-hash embedder so the full path is
oracle-checkable in DuckDB (md5 arithmetic).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sales_agent_graphdb_spark.functions.scalar import md5_int_sql


def _hash_vec(text: str, dim: int) -> list[float]:
    """Dim-d vector: e_i = int(md5(text + '#i')[:8], 16) % 1000 / 1000
    — per-dim salted hashes, reproducible in any engine."""
    return [
        int(hashlib.md5(f"{text}#{i}".encode()).hexdigest()[:8], 16) % 1000 / 1000.0
        for i in range(dim)
    ]


def hash_embed_udf(dim: int = 8):
    """Arrow-batched embedding UDF (Series → Series of list<double>).

    The worker-side function is a self-contained closure (no reference
    to this package), so it deserializes on executors that don't have
    ``sales_agent_graphdb_spark`` on their python path — the driver
    contract imports us from an arbitrary cwd."""

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def embed(texts: pd.Series) -> pd.Series:
        import hashlib as _hl

        def vec(t: str) -> list[float]:
            return [
                int(_hl.md5(f"{t}#{i}".encode()).hexdigest()[:8], 16) % 1000 / 1000.0
                for i in range(dim)
            ]

        return texts.map(lambda t: vec(t or ""))

    return embed


def embed_col(text: Column, dim: int = 8) -> Column:
    return hash_embed_udf(dim)(text)


def duckdb_embed_dim_sql(text_expr: str, i: int) -> str:
    """Oracle for dimension i of the hash embedding."""
    return f"CAST({md5_int_sql(text_expr, f'#{i}', 8)} % 1000 AS DOUBLE) / 1000.0"
