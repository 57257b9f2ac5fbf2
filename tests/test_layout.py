"""Layout of the test suite: no test module binds a top-level name
twice. pytest collects only the last ``def`` of a name, so a test or
fixture that collides with another silently stops the first one from
running. AST only; needs no Spark session."""

from __future__ import annotations

import ast
import collections
import pathlib

TESTS = pathlib.Path(__file__).parent


def _rebound(source: str) -> list[str]:
    """Top-level names bound more than once: defs, classes, plain and
    annotated assignments and imports."""
    seen: collections.Counter[str] = collections.Counter()
    for node in ast.parse(source).body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            seen[node.name] += 1
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    seen[t.id] += 1
        elif isinstance(node, ast.AnnAssign) and isinstance(
            node.target, ast.Name
        ):
            seen[node.target.id] += 1
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                seen[a.asname or a.name.split(".")[0]] += 1
    return sorted(n for n, k in seen.items() if k > 1)


def test_no_top_level_name_bound_twice():
    assert _rebound("def docs(): pass\n\n\ndef docs(): pass\n") == ["docs"]
    assert _rebound("X = 1\n\n\ndef f():\n    X = 2\n") == []
    twice = {
        p.name: _rebound(p.read_text())
        for p in sorted(TESTS.glob("*.py"))
    }
    assert {k: v for k, v in twice.items() if v} == {}
