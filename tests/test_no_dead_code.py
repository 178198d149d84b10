"""Guard: every top-level function in ``ocr_auto_label_spark/`` is
referenced somewhere besides its own ``def`` — in the package, the jobs,
the bench, ``__spark_entry__.py``, the tests or the perf benchmark.  Each
algorithm keeps one implementation, and a function nothing refers to is
dead code to delete, not to keep "for compatibility".

A reference is code, not prose: a name read or called, an attribute, an
imported name, or a string constant that is exactly the identifier (a
``getattr``/monkeypatch target).  A mention in a docstring or comment
does not keep a function alive."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ocr_auto_label_spark"
SEARCHED = (PACKAGE, ROOT / "jobs", ROOT / "bench.py",
            ROOT / "__spark_entry__.py", ROOT / "tests", ROOT / "perfbench")


def _trees() -> dict[Path, ast.Module]:
    files = []
    for p in SEARCHED:
        files.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return {f: ast.parse(f.read_text(encoding="utf-8")) for f in files}


def _references(tree: ast.Module) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier()):
            refs.add(node.value)
    return refs


def test_every_package_function_is_referenced():
    trees = _trees()
    names = sorted({
        node.name
        for f, tree in trees.items() if f.is_relative_to(PACKAGE)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    })
    refs = set().union(*map(_references, trees.values()))
    unused = [name for name in names if name not in refs]
    assert not unused, f"top-level functions nothing refers to: {unused}"
