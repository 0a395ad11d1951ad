"""The text-kit contract, checked on the source: every tokenizer,
normalizer, word n-gram and content fingerprint is spelled once, in
``functions/text.py`` (a Spark expression and its DuckDB text), so the
Spark side and its oracle can only tokenize with one definition; and
no operator or function module reaches up into ``queries/``."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "sales_agent_graphdb_spark"
HOME = "sales_agent_graphdb_spark/functions/text.py"
# DuckDB text fragments that only a text rule writes.
SQL_RULES = ("string_split_regex(", "regexp_replace(lower(", "'[^a-z0-9 ]'")
# The kit's regexes: a Spark split/regexp_replace with one of these as
# its pattern is a hand copy of a kit rule.
KIT_PATTERNS = {
    r"\s+",
    "[^a-zA-Z0-9 ]",
    "[^a-z]+",
    "[^a-z0-9]",
    "[^a-z0-9 ]",
    "[^a-z0-9]+",
}


def _modules():
    paths = [*PACKAGE.rglob("*.py"), *(ROOT / "tools").glob("*.py")]
    for path in sorted(paths):
        rel = path.relative_to(ROOT).as_posix()
        if rel != HOME:
            yield rel, ast.parse(path.read_text())


def _called(node: ast.AST, names: tuple[str, ...]) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    return (isinstance(f, ast.Name) and f.id in names) or (
        isinstance(f, ast.Attribute) and f.attr in names
    )


def test_no_sql_text_rule_outside_kit():
    offenders = [
        f"{rel}:{node.lineno}: {rule}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant) and isinstance(node.value, str)
        for rule in SQL_RULES
        if rule in node.value
    ]
    assert not offenders, f"hand-written text rule SQL (use functions/text.py): {offenders}"


def test_no_spark_text_rule_outside_kit():
    offenders = [
        f"{rel}:{node.lineno}"
        for rel, tree in _modules()
        for node in ast.walk(tree)
        if _called(node, ("split", "regexp_replace"))
        and len(node.args) >= 2
        and isinstance(node.args[1], ast.Constant)
        and node.args[1].value in KIT_PATTERNS
    ]
    assert not offenders, f"hand-written text rule (use functions/text.py): {offenders}"


def test_operators_and_functions_import_nothing_from_queries():
    offenders = []
    for layer in ("operators", "functions"):
        for path in sorted((PACKAGE / layer).glob("*.py")):
            for node in ast.walk(ast.parse(path.read_text())):
                mods = []
                if isinstance(node, ast.ImportFrom):
                    mods = [node.module or ""]
                elif isinstance(node, ast.Import):
                    mods = [a.name for a in node.names]
                if any("queries" in m.split(".") for m in mods):
                    offenders.append(f"{layer}/{path.name}:{node.lineno}")
    assert not offenders, f"lower layer imports from queries/: {offenders}"
