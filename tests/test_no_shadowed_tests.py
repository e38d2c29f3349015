"""Guard against shadowed tests: a module that defines the same top-level
``test_*`` function twice silently loses the first definition (pytest only
collects the name's final binding), so that test never runs."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
TEST_MODULES = sorted(
    [*ROOT.glob("tests/*.py"), *ROOT.glob("perfbench/tests/*.py")]
)


def _duplicate_test_names(source: str) -> list[str]:
    names = Counter(
        node.name
        for node in ast.parse(source).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    )
    return sorted(name for name, n in names.items() if n > 1)


def test_guard_flags_a_redefined_test():
    src = "def test_a():\n    pass\n\ndef test_b():\n    pass\n\ndef test_a():\n    pass\n"
    assert _duplicate_test_names(src) == ["test_a"]


def test_no_module_defines_a_test_twice():
    assert TEST_MODULES
    shadowed = {
        str(path.relative_to(ROOT)): dups
        for path in TEST_MODULES
        if (dups := _duplicate_test_names(path.read_text(encoding="utf-8")))
    }
    assert shadowed == {}
