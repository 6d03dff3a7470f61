"""Guard against imports that nothing uses.

Every name that a file under ``geospatial_spark/`` or ``tests/`` binds
with ``import`` / ``from … import`` must be read somewhere in the scope
that imports it: the whole file for a module-level import, the enclosing
function for a local one.  ``from __future__`` imports are exempt.
Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _files() -> list[Path]:
    return sorted((ROOT / "geospatial_spark").rglob("*.py")) + sorted((ROOT / "tests").rglob("*.py"))


def _unused(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    scopes: dict[ast.AST, ast.AST] = {}  # import node -> innermost enclosing scope

    def visit(node: ast.AST, scope: ast.AST) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.Import, ast.ImportFrom)):
                scopes[child] = scope
            inner = child if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else scope
            visit(child, inner)

    visit(tree, tree)
    out = []
    for imp, scope in scopes.items():
        if isinstance(imp, ast.ImportFrom) and imp.module == "__future__":
            continue
        read = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        for alias in imp.names:
            bound = alias.asname or alias.name.split(".", 1)[0]
            if bound not in read:
                out.append(f"{path.relative_to(ROOT)}:{imp.lineno} {bound}")
    return out


def test_no_unused_imports():
    unused = [u for p in _files() for u in _unused(p)]
    assert not unused, f"imported but never used: {unused}"
