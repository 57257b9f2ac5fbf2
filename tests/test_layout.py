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


REPO = TESTS.parent
PACKAGE = REPO / "iceberg_diag_spark"
# Deployment settings: callers outside the repository set them.
DEPLOYMENT_SETTINGS = {
    ("get_spark", "master"),
    ("stream_export_shards", "checkpoint_dir"),
}
# Family modules imported for the entries they register.
SIDE_EFFECT_IMPORTS = {"plans/registry.py"}


def _modules(*roots: pathlib.Path) -> list[ast.Module]:
    files: list[pathlib.Path] = []
    for r in roots:
        files += sorted(r.rglob("*.py")) if r.is_dir() else [r]
    return [ast.parse(p.read_text()) for p in files]


def _unset_defaults(
    package: list[ast.Module], callers: list[ast.Module]
) -> list[tuple[str, str]]:
    """(function, parameter) for every defaulted parameter of a package
    function that no call passes, by keyword or by position. Names
    defined more than once, functions no call names and functions
    called with ``*``/``**`` are skipped."""
    defs: dict[str, list[ast.FunctionDef]] = collections.defaultdict(list)
    for tree in package:
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[node.name].append(node)
    calls: dict[str, list[ast.Call]] = collections.defaultdict(list)
    for tree in callers:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, (ast.Name, ast.Attribute)):
                    calls[f.id if isinstance(f, ast.Name) else f.attr].append(
                        node
                    )
    unset = []
    for name, nodes in defs.items():
        cs = calls.get(name)
        if len(nodes) != 1 or not cs or any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in cs
        ):
            continue
        a = nodes[0].args
        pos = a.posonlyargs + a.args
        defaulted = [
            (i, p.arg) for i, p in enumerate(pos)
            if i >= len(pos) - len(a.defaults)
        ] + [
            (None, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        for i, p in defaulted:
            if not any(
                any(k.arg == p for k in c.keywords)
                or (i is not None and len(c.args) > i)
                for c in cs
            ):
                unset.append((name, p))
    return sorted(unset)


def test_every_defaulted_parameter_is_set_by_some_call():
    """A default no call overrides is a configuration nothing runs or
    tests: it is a constant, and is written as one."""
    probe = ast.parse(
        "def f(a, b=1, *, c=2, d=3):\n    pass\n"
        "def g(x=0):\n    pass\n"
        "def h(y=0):\n    pass\n"
    )
    calls = ast.parse("f(0, 5, d=4)\ng(**{})\nm.h()\n")
    assert _unset_defaults([probe], [calls]) == [("f", "c"), ("h", "y")]
    package = _modules(PACKAGE)
    callers = package + _modules(
        REPO / "tests", REPO / "perfbench", REPO / "bench.py"
    )
    assert set(_unset_defaults(package, callers)) == DEPLOYMENT_SETTINGS


def _unused_imports(tree: ast.Module) -> list[str]:
    """Names a module imports and never reads (``__future__`` aside)."""
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                imported[a.asname or a.name.split(".")[0]] = node.lineno
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            read |= set(ast.literal_eval(node.value))
    return sorted(n for n in imported if n not in read)


def test_no_unused_import_in_the_package():
    assert _unused_imports(ast.parse("import os\nimport re\nre.sub\n")) == [
        "os"
    ]
    unused = {
        str(p.relative_to(PACKAGE)): _unused_imports(ast.parse(p.read_text()))
        for p in sorted(PACKAGE.rglob("*.py"))
        if str(p.relative_to(PACKAGE)) not in SIDE_EFFECT_IMPORTS
    }
    assert {k: v for k, v in unused.items() if v} == {}
