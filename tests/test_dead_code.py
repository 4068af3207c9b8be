"""Guard: every public top-level function in the package, and every public
method of a public class, has a caller outside ``tests/``. References are
read from the AST (names, attributes, ``from … import``), so a mention in
a docstring or comment does not count as a use. Decorated defs are
skipped: registered queries are reached through ``QUERIES``."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
USERS = ["beholder_spark/**/*.py", "bench.py", "__spark_entry__.py", "tools/*.py", "perfbench/*.py"]
ALLOWED = {
    "fixtures.write_fixtures": "the test suite's fixture writer (conftest.py); tests/ is not scanned",
}


def _refs(tree: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _public(body: list[ast.stmt], kind: type) -> list:
    return [n for n in body if isinstance(n, kind) and not n.name.startswith("_")]


def test_no_def_is_reached_only_by_tests():
    refs: set[str] = set()
    defs: set[tuple[str, str]] = set()  # (qualified name, name a caller uses)
    for f in sorted({p for g in USERS for p in ROOT.glob(g)}):
        tree = ast.parse(f.read_text(), str(f))
        refs |= _refs(tree)
        if f.is_relative_to(ROOT / "beholder_spark"):
            mod = ".".join(f.relative_to(ROOT / "beholder_spark").with_suffix("").parts)
            mod = mod.removesuffix(".__init__")
            defs |= {
                (f"{mod}.{n.name}", n.name)
                for n in _public(tree.body, ast.FunctionDef)
                if not n.decorator_list
            }
            defs |= {
                (f"{mod}.{c.name}.{m.name}", m.name)
                for c in _public(tree.body, ast.ClassDef)
                for m in _public(c.body, ast.FunctionDef)
                if not m.decorator_list
            }
    dead = {qual for qual, name in defs if name not in refs}
    assert dead == set(ALLOWED)
