"""Lint: every name a ``proj_spark`` module lists in ``__all__`` is used.

A name counts as used when some other Python file of the project —
the library itself, the tests, the Spark entry point, the bench
scripts, the benchmark harness or the tools — mentions it as a whole
word, or when its own module's code loads it (a mention in the own
module's docstrings or comments does not count).  An export that is
only defined and listed is dead code.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCOPE = ("proj_spark", "tests", "benchmark", "tools", "__spark_entry__.py",
         "bench.py", "bench_extra.py")


def _py_files(root: Path) -> list[Path]:
    out = []
    for name in SCOPE:
        p = root / name
        out.extend(sorted(p.rglob("*.py")) if p.is_dir()
                   else [p] if p.is_file() else [])
    return out


def _exports(tree: ast.Module) -> list[str]:
    for node in tree.body:
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)):
            return [e.value for e in node.value.elts
                    if isinstance(e, ast.Constant)]
    return []


def dead_exports(root: Path) -> list[str]:
    """``module:name`` for each unreferenced ``__all__`` entry."""
    files = _py_files(root)
    text = {f: f.read_text() for f in files}
    dead = []
    for mod in files:
        if (root / "proj_spark") not in mod.parents:
            continue
        tree = ast.parse(text[mod])
        loaded = {n.id for n in ast.walk(tree)
                  if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
        for name in _exports(tree):
            word = re.compile(rf"\b{re.escape(name)}\b")
            if name not in loaded and not any(
                    word.search(t) for f, t in text.items() if f != mod):
                dead.append(f"{mod.relative_to(root)}:{name}")
    return dead


def test_no_dead_exports():
    assert dead_exports(ROOT) == []


def test_dead_export_is_reported(tmp_path):
    pkg = tmp_path / "proj_spark"
    pkg.mkdir()
    (pkg / "m.py").write_text(
        '__all__ = ["used", "internal", "unused"]\n'
        "def used(): return internal()\n"
        "def internal(): pass\n"
        'def unused():\n    """unused is only mentioned here."""\n')
    (tmp_path / "tests").mkdir()
    # a longer name that merely contains "unused" is not a reference
    (tmp_path / "tests" / "test_m.py").write_text(
        "from proj_spark.m import used\nused()\nunused_too = 1\n")
    assert dead_exports(tmp_path) == ["proj_spark/m.py:unused"]
