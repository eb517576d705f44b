"""Guard: no module in the package defines the same top-level name twice.

A second top-level ``def``/``class`` silently shadows the first, so the
first becomes dead code and its callers get the other signature. Pure
stdlib ``ast``: no linter is needed to run it.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "ocr_redaction_engine_spark"


def duplicate_defs(source: str) -> list[str]:
    counts = Counter(node.name for node in ast.parse(source).body
                     if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                          ast.ClassDef)))
    return sorted(name for name, n in counts.items() if n > 1)


def test_no_duplicate_top_level_defs():
    modules = sorted(PACKAGE.rglob("*.py"))
    assert modules
    found = {str(p.relative_to(PACKAGE)): dups for p in modules
             if (dups := duplicate_defs(p.read_text()))}
    assert found == {}, f"shadowed top-level definitions: {found}"


def test_guard_trips_on_a_shadowed_def():
    assert duplicate_defs("def f(a): pass\nclass C: pass\ndef f(a, b=1): pass\n") == ["f"]
