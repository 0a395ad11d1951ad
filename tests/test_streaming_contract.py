"""The bounded-run contract of ``streaming/pipelines.py``, checked on
the source: ``_drain`` is the only place that starts and awaits a
stream, and ``_versioned_fold`` the only place that publishes a table
version."""

from __future__ import annotations

import ast
from pathlib import Path

PIPELINES = (
    Path(__file__).resolve().parent.parent
    / "sales_agent_graphdb_spark"
    / "streaming"
    / "pipelines.py"
)

# attribute name -> the one function allowed to use it
_OWNER = {
    "writeStream": "_drain",
    "awaitTermination": "_drain",
    "rename": "_versioned_fold",
}


def test_stream_runs_and_commits_only_in_their_helpers():
    tree = ast.parse(PIPELINES.read_text())
    inside: dict[str, set[int]] = {}
    for fn in tree.body:
        if isinstance(fn, ast.FunctionDef) and fn.name in _OWNER.values():
            inside[fn.name] = {id(n) for n in ast.walk(fn)}
    assert set(inside) == set(_OWNER.values()), inside.keys()
    offenders = []
    seen = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in _OWNER:
            seen.add(node.attr)
            if id(node) not in inside[_OWNER[node.attr]]:
                offenders.append(f"{node.attr} at line {node.lineno}")
    assert not offenders, offenders
    assert seen == set(_OWNER), f"contract names no longer used: {set(_OWNER) - seen}"
