"""The embeddings-schema contract, checked on the source: the ANN and
similarity operators read the embeddings table's own column names
(module constants ``ID_COL`` / ``VEC_COL`` / ``LABEL_COL``), so no
function in ``operators/ann.py`` or ``operators/similarity.py`` takes
an ``id_col``, ``vec_col`` or ``label_col`` parameter."""

from __future__ import annotations

import ast
from pathlib import Path

OPERATORS = Path(__file__).resolve().parent.parent / "sales_agent_graphdb_spark" / "operators"
MODULES = ("ann.py", "similarity.py")
KNOBS = {"id_col", "vec_col", "label_col"}


def test_no_column_name_parameters():
    offenders = []
    for mod in MODULES:
        for node in ast.walk(ast.parse((OPERATORS / mod).read_text())):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = {x.arg for x in [*a.posonlyargs, *a.args, *a.kwonlyargs]}
                for bad in sorted(names & KNOBS):
                    offenders.append(f"{mod}:{node.lineno} {getattr(node, 'name', 'lambda')}({bad})")
    assert not offenders, f"column-name parameters (use the module constants): {offenders}"
