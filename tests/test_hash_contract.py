"""The md5-prefix hash contract, checked on the source: every Spark
``conv(... md5(...) ...)`` and every DuckDB ``'0x' || substr(md5(...``
text lives in ``functions/scalar.py`` (``md5_int`` / ``md5_int_sql``),
so the two engines can only bucket rows with one definition."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "sales_agent_graphdb_spark"
HOME = "sales_agent_graphdb_spark/functions/scalar.py"
SQL_HASH = re.compile(r"'0x'\s*\|\|\s*substr\(\s*md5\(", re.IGNORECASE)
# v4_deterministic_embed's second dimension slices md5 at offset 9 — the
# one non-prefix slice, which md5_int_sql does not express.
EXEMPT = {
    ("sales_agent_graphdb_spark/queries/vector.py", "'0x' || substr(md5(text), 9, 8)"),
}


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE.parent).as_posix()
        if rel != HOME:
            yield rel, ast.parse(path.read_text())


def _called(node: ast.AST, name: str) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id == name) or (
        isinstance(f, ast.Attribute) and f.attr == name
    )


def test_no_spark_md5_conv_outside_scalar():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if _called(node, "conv")
        and any(
            _called(sub, "md5")
            for arg in [*node.args, *(k.value for k in node.keywords)]
            for sub in ast.walk(arg)
        )
    ]
    assert not offenders, f"hand-rolled md5-prefix hash (use md5_int): {offenders}"


def test_no_sql_md5_prefix_outside_scalar():
    offenders = []
    for rel, tree in _modules():
        exempt = [p for f, p in EXEMPT if f == rel]
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = node.value
                for p in exempt:
                    text = text.replace(p, "")
                if SQL_HASH.search(text):
                    offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"hand-rolled md5-prefix SQL (use md5_int_sql): {offenders}"
