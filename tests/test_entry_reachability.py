"""Guard against dead board code in __spark_entry__.py: every top-level
function and `_*_SQL` constant must be reachable, transitively, from
`queries()`, `oracle_sql()` or a name some other test references. Pure
stdlib `ast` — no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

TESTS = Path(__file__).resolve().parent
ENTRY = TESTS.parent / "__spark_entry__.py"


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _top_level_defs(tree: ast.Module) -> dict[str, ast.AST]:
    defs: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            defs[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                              ast.Name):
            defs[node.target.id] = node
    return defs


def unreachable_entry_names() -> list[str]:
    defs = _top_level_defs(ast.parse(ENTRY.read_text()))
    referenced: set[str] = set()
    for path in TESTS.glob("test_*.py"):
        if path.name != Path(__file__).name:
            referenced |= _names(ast.parse(path.read_text()))
    stack = ["queries", "oracle_sql", *(set(defs) & referenced)]
    seen: set[str] = set()
    while stack:
        name = stack.pop()
        if name in seen or name not in defs:
            continue
        seen.add(name)
        stack.extend(_names(defs[name]) & set(defs))
    return sorted(
        name for name, node in defs.items()
        if name not in seen and (isinstance(node, ast.FunctionDef)
                                 or (name.startswith("_")
                                     and name.endswith("_SQL"))))


def test_entry_has_no_unreachable_board_code():
    dead = unreachable_entry_names()
    assert not dead, f"unreachable in __spark_entry__.py: {dead}"
