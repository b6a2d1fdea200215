"""One engine per operator (Spark-free): no function in the package takes
an ``engine`` parameter, so no operator keeps a second code path that a
caller can select."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "otlp_cardinality_checker_spark"


def test_no_function_takes_an_engine_parameter():
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            params = a.posonlyargs + a.args + a.kwonlyargs
            if any(p.arg == "engine" for p in params):
                rel = path.relative_to(PACKAGE.parent)
                found.append(f"{rel}:{node.lineno} {node.name}")
    assert not found, f"functions with an engine parameter: {found}"
