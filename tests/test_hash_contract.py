"""The md5-prefix hash contract, checked on the source: every Spark
hex-to-integer ``conv(..., 16, 10)`` and every DuckDB ``'0x' || ...``
text lives in ``functions/scalar.py`` (``md5_int`` / ``md5_int_sql`` and
their prefix step ``hex_int`` / ``hex_int_sql``), so the two engines can
only bucket rows with one definition."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "sales_agent_graphdb_spark"
HOME = "sales_agent_graphdb_spark/functions/scalar.py"
SQL_HEX = re.compile(r"'0x'\s*\|\|", re.IGNORECASE)
# v4_deterministic_embed's second dimension slices md5 at offset 9 — the
# one non-prefix slice, which md5_int does not express. Its Spark side
# is one helper for both dimensions.
VECTOR = "sales_agent_graphdb_spark/queries/vector.py"
EXEMPT = {(VECTOR, "'0x' || substr(md5(text), 9, 8)")}
EXEMPT_CONV = {(VECTOR, "F.conv(hexpart, 16, 10)")}


_SOURCES = {
    path.relative_to(PACKAGE.parent).as_posix(): path.read_text()
    for path in sorted(PACKAGE.rglob("*.py"))
}


def _modules():
    for rel, src in _SOURCES.items():
        if rel != HOME:
            yield rel, ast.parse(src)


def _called(node: ast.AST, name: str) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == name) or (
        isinstance(f, ast.Attribute) and f.attr == name
    )


def _hex_to_int(node: ast.AST) -> bool:
    """A ``conv(x, 16, 10)`` call: any hex prefix turned into an integer,
    whether or not md5 is an argument of the call."""
    return (
        _called(node, "conv")
        and len(node.args) == 3
        and all(
            isinstance(a, ast.Constant) and a.value == v
            for a, v in zip(node.args[1:], (16, 10))
        )
    )


def test_no_spark_md5_conv_outside_scalar():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if _hex_to_int(node)
        and (rel, ast.get_source_segment(_SOURCES[rel], node)) not in EXEMPT_CONV
    ]
    assert not offenders, f"hand-rolled hex-prefix hash (use md5_int/hex_int): {offenders}"


def test_no_sql_md5_prefix_outside_scalar():
    offenders = []
    for rel, tree in _modules():
        exempt = [p for f, p in EXEMPT if f == rel]
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = node.value
                for p in exempt:
                    text = text.replace(p, "")
                if SQL_HEX.search(text):
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"hand-rolled hex-prefix SQL (use md5_int_sql/hex_int_sql): {offenders}"
