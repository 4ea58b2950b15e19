"""The test suite's own layout: no test module binds a top-level name
twice (pytest collects only the last of two same-named test functions,
so a shadowed test would vanish without a failure)."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

TESTS = os.path.dirname(os.path.abspath(__file__))


def _top_level_names(tree: ast.Module) -> list[str]:
    """Names bound by top-level functions, classes and assignments."""
    names: list[str] = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                names += [n.id for n in ast.walk(target) if isinstance(n, ast.Name)]
    return names


def test_no_test_module_binds_a_name_twice():
    twice = {}
    for path in sorted(glob.glob(os.path.join(TESTS, "*.py"))):
        with open(path) as f:
            counts = Counter(_top_level_names(ast.parse(f.read())))
        dup = sorted(n for n, c in counts.items() if c > 1)
        if dup:
            twice[os.path.basename(path)] = dup
    assert twice == {}


def test_the_name_check_sees_a_shadowed_test():
    tree = ast.parse("def test_a():\n    pass\n\n\nX = 1\n\n\ndef test_a():\n    pass\n")
    assert Counter(_top_level_names(tree))["test_a"] == 2
