"""No source file defines the same top-level function or class name twice.

A second ``def`` of a name silently replaces the first when the module
runs: a same-name plan function appended to a module shadows the
original, and every caller gets the new one without an error. The check
is a stdlib ``ast`` pass over the package, ``bench.py`` and
``differential.py``; it runs in milliseconds.
"""

from __future__ import annotations

import ast
from collections import Counter

from test_names_bound import FILES, ROOT

DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def duplicate_defs(source: str) -> list[tuple[int, str]]:
    """(line, name) of every top-level function or class definition
    whose name an earlier top-level definition in ``source`` already
    used."""
    seen: Counter[str] = Counter()
    out = []
    for node in ast.parse(source).body:
        if isinstance(node, DEFS):
            if seen[node.name]:
                out.append((node.lineno, node.name))
            seen[node.name] += 1
    return out


def test_no_top_level_name_is_defined_twice():
    dups = {
        str(path.relative_to(ROOT)): names
        for path in FILES
        if (names := duplicate_defs(path.read_text()))
    }
    assert not dups, f"top-level names defined twice: {dups}"


def test_checker_flags_a_second_def():
    src = (
        "def plan(df):\n    return df\n\n"
        "class C:\n    def plan(self):\n        pass\n\n"
        "def plan(df):\n    return df.limit(1)\n"
    )
    assert duplicate_defs(src) == [(8, "plan")]
