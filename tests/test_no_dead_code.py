"""Guard: every top-level function in ``ocr_auto_label_spark/`` is
referenced somewhere besides its own ``def`` — in the package, the jobs,
the bench, ``__spark_entry__.py``, the tests or the perf benchmark.  Each
algorithm keeps one implementation, and a function nothing refers to is
dead code to delete, not to keep "for compatibility"."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ocr_auto_label_spark"
SEARCHED = (PACKAGE, ROOT / "jobs", ROOT / "bench.py",
            ROOT / "__spark_entry__.py", ROOT / "tests", ROOT / "perfbench")


def _sources() -> dict[Path, str]:
    files = []
    for p in SEARCHED:
        files.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    return {f: f.read_text(encoding="utf-8") for f in files}


def test_every_package_function_is_referenced():
    sources = _sources()
    text = "\n".join(sources.values())
    names = sorted({
        node.name
        for f, src in sources.items() if f.is_relative_to(PACKAGE)
        for node in ast.parse(src).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    })
    words = Counter(re.findall(r"\w+", text))
    defs = Counter(re.findall(r"\bdef (\w+)", text))
    unused = [name for name in names if words[name] == defs[name]]
    assert not unused, f"top-level functions nothing refers to: {unused}"
