"""Package invariants raise real exceptions: ``python -O`` strips every
``assert`` statement (ADVICE.md), so none may guard package code."""

from __future__ import annotations

import ast
from pathlib import Path

import logtrics_spark


def test_package_has_no_assert_statements():
    root = Path(logtrics_spark.__file__).parent
    found = [
        f"{path.relative_to(root.parent)}:{node.lineno}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text(), str(path)))
        if isinstance(node, ast.Assert)
    ]
    assert not found, found
