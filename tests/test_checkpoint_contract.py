"""The checkpoint contract, checked on the source: ``session.materialize``
is the only caller of ``localCheckpoint``/``checkpoint`` in the package,
and no module patches a DataFrame class."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "sales_agent_graphdb_spark"


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE.parent), ast.parse(path.read_text())


def _is_class_expr(node: ast.AST, class_names: set[str]) -> bool:
    """``DataFrame``, ``type(<anything>)`` or a name bound to either."""
    if isinstance(node, ast.Name):
        return node.id in class_names
    if isinstance(node, ast.Attribute):
        return node.attr == "DataFrame"
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "type"
    )


def test_checkpoints_only_in_materialize():
    offenders = []
    for rel, tree in _modules():
        allowed: set[int] = set()
        if rel.as_posix().endswith("sales_agent_graphdb_spark/session.py"):
            for fn in tree.body:
                if isinstance(fn, ast.FunctionDef) and fn.name == "materialize":
                    allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
                and id(node) not in allowed
            ):
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, f"checkpoint calls outside session.materialize: {offenders}"


def test_no_dataframe_class_is_patched():
    offenders = []
    for rel, tree in _modules():
        class_names = {"DataFrame"}
        for node in ast.walk(tree):
            if isinstance(node, ast.Assign) and _is_class_expr(node.value, class_names):
                class_names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(tree):
            targets = []
            if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id in ("setattr", "delattr")
                and node.args
                and _is_class_expr(node.args[0], class_names)
            ):
                offenders.append(f"{rel}:{node.lineno}")
            for t in targets:
                if isinstance(t, ast.Attribute) and _is_class_expr(t.value, class_names):
                    offenders.append(f"{rel}:{t.lineno}")
    assert not offenders, f"DataFrame class attributes assigned at: {offenders}"
