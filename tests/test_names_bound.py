"""Every name a source file loads is bound somewhere in that file.

A name that is used but never imported, assigned, defined or taken as a
parameter raises NameError only when its line runs, which for a rarely
exercised plan can be long after the edit that dropped the import. This
check is file-level and flow-insensitive (a binding anywhere in the file
counts), so it runs in milliseconds and cannot false-positive on scoping;
it catches the whole "forgot the import" class. Builtins and module dunders
are always bound; a file with a star-import is skipped, since its bindings
cannot be known without importing it.
"""

from __future__ import annotations

import ast
import builtins
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
FILES = sorted(
    [
        *(ROOT / "tp1_distribuidos_mapreduce_spark").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "differential.py",
        ROOT / "freshness.py",
    ]
)
ALWAYS_BOUND = set(dir(builtins)) | {
    "__file__",
    "__name__",
    "__doc__",
    "__spec__",
    "__loader__",
    "__package__",
    "__path__",
    "__builtins__",
}


def unbound_names(source: str) -> list[tuple[int, str]] | None:
    """(line, name) of every load of a name the file never binds, or None
    for a file with a star-import."""
    tree = ast.parse(source)
    bound: set[str] = set()
    loads: list[tuple[int, str]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            if isinstance(node.ctx, ast.Load):
                loads.append((node.lineno, node.id))
            else:
                bound.add(node.id)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bound.add(node.name)
        elif isinstance(node, ast.arg):
            bound.add(node.arg)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                if alias.name == "*":
                    return None
                bound.add(alias.asname or alias.name.split(".")[0])
        elif isinstance(node, ast.ExceptHandler) and node.name:
            bound.add(node.name)
        elif isinstance(node, (ast.Global, ast.Nonlocal)):
            bound.update(node.names)
        elif isinstance(node, (ast.MatchAs, ast.MatchStar)) and node.name:
            bound.add(node.name)
        elif isinstance(node, ast.MatchMapping) and node.rest:
            bound.add(node.rest)
    return sorted(
        (line, name)
        for line, name in loads
        if name not in bound and name not in ALWAYS_BOUND
    )


def test_every_loaded_name_is_bound():
    unbound = {
        str(path.relative_to(ROOT)): names
        for path in FILES
        if (names := unbound_names(path.read_text()))
    }
    assert not unbound, f"names loaded but never bound: {unbound}"


def test_checker_flags_a_missing_import():
    src = "from m import a\n\ndef f():\n    return a() + b()\n"
    assert unbound_names(src) == [(4, "b")]
    assert unbound_names("from m import *\nb()\n") is None
