"""Query registry: one entry per implemented operator (SURVEY.md §2).

Each query is registered with a Spark callable ``(spark, sf_dir) ->
DataFrame`` and its DuckDB oracle SQL string over the same parquet
tables. The driver compares row-count + schema +
order-insensitive value-hash, so every computed column is aliased
identically on both sides and floating aggregates go through exact
DECIMAL arithmetic before a final cast to double (summation order then
cannot change the result).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str  # ANSI SQL for DuckDB


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str):
    """Decorator: register a query under ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        if not isinstance(oracle, str):
            raise TypeError(f"{name}: oracle must be DuckDB SQL text")
        _REGISTRY[name] = QuerySpec(name, fn, oracle)
        return fn

    return deco


def _green_stamps(root: Path) -> dict[str, int]:
    """name -> round of its LATEST fully green driver row (rows, schema
    and hash green or absent, no err) in ``root``'s CORRECTNESS_r*.json
    records. A name whose latest record is red gets no stamp, so it is
    scheduled with the never-green names until it is re-verified."""
    stamp: dict[str, int] = {}
    records = {int(re.search(r"_r(\d+)", p.name).group(1)): p
               for p in root.glob("CORRECTNESS_r*.json")}
    for rnd, p in sorted(records.items()):
        for name, row in json.loads(p.read_text()).items():
            green = (
                isinstance(row, dict)
                and row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match") in (True, None)
                and not row.get("err")
            )
            if green:
                stamp[name] = rnd
            else:
                stamp.pop(name, None)
    return stamp


# The per-round correctness driver iterates the queries() dict in
# insertion order and records a fixed budget of rows, so iteration
# order IS the verification schedule.
_VERIFIED_ROUND: dict[str, int] = _green_stamps(Path(__file__).resolve().parent.parent)


def _driver_order(names: list[str]) -> list[str]:
    """Never-green names in registration order, then green names
    oldest-stamp-first (ties by name), so spare budget refreshes the
    stalest rows."""
    never = [n for n in names if n not in _VERIFIED_ROUND]
    green = sorted(
        (n for n in names if n in _VERIFIED_ROUND), key=lambda n: (_VERIFIED_ROUND[n], n)
    )
    return [*never, *green]


def all_queries() -> dict[str, QuerySpec]:
    # Import query modules lazily so registration happens on first use.
    from sales_agent_graphdb_spark import queries as _q  # noqa: F401

    return {n: _REGISTRY[n] for n in _driver_order(list(_REGISTRY))}


def spark_queries() -> dict[str, QueryFn]:
    return {name: spec.fn for name, spec in all_queries().items()}


def oracles() -> dict[str, str]:
    return {name: spec.oracle for name, spec in all_queries().items()}
