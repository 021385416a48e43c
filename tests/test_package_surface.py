"""Every name the operators, sources and streaming packages export has
a consumer.

A consumer is the driver registry (``__spark_entry__.py``), ``bench.py``,
``tools/``, ``perfbench/``, or package code outside the name's own
definition; tests are not consumers.  The check reads source files only
(no Spark session)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "s2_geometry_library_php_spark"
SURFACES = ("operators", "sources", "streaming")


def _exports(init: Path) -> set[str]:
    tree = ast.parse(init.read_text())
    return {
        a.asname or a.name
        for node in tree.body
        if isinstance(node, ast.ImportFrom)
        for a in node.names
    }


def _references(tree: ast.AST, skip: str | None = None) -> set[str]:
    """Names a module refers to: identifiers, attribute names and
    imported names, outside any def or class called ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            and node.name == skip
        ):
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update(a.name.split(".")[-1] for a in node.names)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _consumer_sources() -> tuple[list[ast.AST], list[ast.AST]]:
    """(outside roots, package modules), the package's re-exporting
    ``__init__`` files left out."""
    roots = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    roots += sorted((ROOT / "tools").glob("*.py"))
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    outside = [ast.parse(p.read_text()) for p in roots]
    package = [
        ast.parse(p.read_text())
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "__init__.py"
    ]
    return outside, package


def test_every_exported_operator_has_a_consumer():
    outside, package = _consumer_sources()
    used = set().union(*(_references(t) for t in outside))
    unused = []
    for surface in SURFACES:
        for name in sorted(_exports(PKG / surface / "__init__.py")):
            if name in used:
                continue
            if any(name in _references(t, skip=name) for t in package):
                continue
            unused.append(f"{surface}.{name}")
    assert unused == [], f"exported with no consumer: {unused}"
