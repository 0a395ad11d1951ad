"""The exact-number contract, checked on the source: the money
``decimal(18,2)``, rate ``decimal(4,2)`` and 6-dp value
``decimal(20,6)`` grids are spelled once, in ``functions/scalar.py``
(a Spark cast, its DuckDB text and a Python quantizer), so Spark, its
oracle and the streaming state functions can only round with one
definition; and the Python quantizer rounds as Spark's cast does."""

from __future__ import annotations

import ast
import re
from decimal import Decimal
from pathlib import Path

from sales_agent_graphdb_spark.functions.scalar import dec6, dec6_quantizer
from tests.conftest import SF_MEDIUM

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sales_agent_graphdb_spark"
HOME = "sales_agent_graphdb_spark/functions/scalar.py"
GRID = re.compile(r"decimal\(\s*(18,\s*2|20,\s*6|4,\s*2)\s*\)", re.IGNORECASE)
# Doubles whose 6-dp rounding sits on or next to a HALF_UP boundary.
BOUNDARY_DOUBLES = [
    5e-7, -5e-7, 1.2345675, 123456.1234565, 1.5e-6, 2.5e-6, 1.0000005, 0.1234565, 9.9999995,
]


def _modules():
    paths = [*PACKAGE.rglob("*.py"), *(ROOT / "tools").glob("*.py")]
    for path in sorted(paths):
        rel = path.relative_to(ROOT).as_posix()
        if rel != HOME:
            yield rel, ast.parse(path.read_text())


def _docstrings(tree: ast.AST) -> set[int]:
    owners = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, owners)
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }


def test_no_grid_spelled_outside_kit():
    offenders = []
    for rel, tree in _modules():
        docs = _docstrings(tree)
        offenders += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docs
            and GRID.search(node.value)
        ]
    assert not offenders, f"hand-written exact grid (use functions/scalar.py): {offenders}"


def test_no_python_quantize_outside_kit():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "quantize"
    ]
    assert not offenders, f"hand-written quantizer (use scalar.dec6_quantizer): {offenders}"


def _spark_dec6(df) -> list[tuple[float, Decimal]]:
    return sorted(tuple(r) for r in df.select("v", dec6("v").alias("d")).collect())


def test_quantizer_matches_spark_cast_on_boundaries(spark):
    q = dec6_quantizer()
    df = spark.createDataFrame([(v,) for v in BOUNDARY_DOUBLES], "v double")
    got = _spark_dec6(df)
    assert len(got) == len(BOUNDARY_DOUBLES)
    assert [(v, q(v)) for v, _ in got] == got


def test_quantizer_matches_spark_cast_on_event_values(spark):
    q = dec6_quantizer()
    df = spark.read.parquet(f"{SF_MEDIUM}/events.parquet")
    got = _spark_dec6(df.select(df.value.alias("v")).distinct())
    assert got
    assert [(v, q(v)) for v, _ in got] == got
