"""The expression-vs-Arrow choice of the vector quantizers is made in
one function of `operators/similarity.py`: each cap constant is read
inside exactly one function, so no caller can route on its own."""

from __future__ import annotations

import ast
import os

SIMILARITY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "railgun_spark", "operators", "similarity.py",
)


def _readers(constant: str) -> list[str]:
    with open(SIMILARITY) as f:
        tree = ast.parse(f.read())
    readers = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            body = ast.Module(body=node.body, type_ignores=[])
            if any(
                isinstance(n, ast.Name) and n.id == constant and isinstance(n.ctx, ast.Load)
                for n in ast.walk(body)
            ):
                readers.append(node.name)
    return readers


def test_column_path_caps_read_in_one_function():
    for constant in ("_IVF_COLUMN_PATH_MAX_K", "_PQ_COLUMN_PATH_MAX_CELLS"):
        assert len(_readers(constant)) == 1, (constant, _readers(constant))
