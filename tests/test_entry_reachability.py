"""Guard against dead code across the package: every top-level function and
class in smart_pdf_md_spark/ and __spark_entry__.py, and every `_*_SQL`
constant of __spark_entry__.py, must be reachable, transitively, from a
declared entry point. Tests and scripts/ are never roots, so code that only
they exercise shows as dead. Pure stdlib `ast` — no Spark session.

References resolve at name level: a `Name`, an `Attribute`'s attr, an
import alias and an identifier-shaped string constant (string dispatch) all
reach every definition of that name. A false "live" is possible, a false
"dead" is not. Top-level statements other than definitions, assignments and
imports run at import time, so they are roots too; an assignment is walked
only once something references the name it binds."""

from __future__ import annotations

import ast
import re
import shutil
from pathlib import Path

TREE = Path(__file__).resolve().parents[1]
PACKAGE = "smart_pdf_md_spark"
ENTRY = "__spark_entry__.py"

# Entry points, per file: the driver contract, the CLI and its staged
# pipelines. run.py's `main` is reached through its `__main__` block.
ROOTS = {
    ENTRY: ("entry", "queries", "oracle_sql"),
    f"{PACKAGE}/plans/driver.py": ("run_kg", "extract_incremental"),
    f"{PACKAGE}/plans/curation.py": ("run_curation",),
    f"{PACKAGE}/plans/curation_incremental.py": ("curate_append",),
}
# Every name these files reference is a root: the frozen benchmark, the
# board-query timer and the perfbench harness.
ROOT_FILES = ("bench.py", "bench_extra.py", "perfbench/*.py")
# Reached only by tests today, kept on purpose.
KEEP = {
    "stage_global_digest": "lineage verification: one digest per stage",
    "verify_stage_digests": "lineage verification: re-derive every batch "
                            "digest from its committed files",
    "run_report": "the commit record's read side, for the CLI's run report",
    "precision_recall": "the P/R 1.0 gate itself",
    "corpus_pandas": "the pandas oracle corpus the test fixtures build",
}
# Reached only by tests today; their deletion is deferred to a later sweep
# (each goes together with the tests that pin it).
DEFERRED = {
    "cms_table": "Count-Min frequency table", "cms_query": "Count-Min",
    "cms_merge": "Count-Min", "bloom_merge": "Bloom filter union",
    "log_histogram": "mergeable log-histogram quantiles",
    "log_histogram_merge": "log-histogram",
    "log_histogram_quantiles": "log-histogram",
    "grouped_quantiles": "per-group log-histogram quantiles",
    "bottomk_sample": "mergeable bottom-k sample",
    "bottomk_merge": "bottom-k", "mg_summary": "Misra-Gries heavy hitters",
    "mg_merge": "Misra-Gries", "url_keyword_score": "URL keyword score",
    "register_kg_views": "spark.sql views over a stage dict",
    "domain_divergence": "per-domain unigram KL",
    "neighbors": "1-hop graph neighborhood",
    "pack_sequences": "sequence packing",
    "weighted_sample": "deterministic weighted sampling",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(p for p in n.value.split(".") if _IDENT.fullmatch(p))
    return out


def _aliases(tree: ast.Module) -> dict[str, str]:
    return {a.asname: a.name.split(".")[-1] for n in ast.walk(tree)
            if isinstance(n, (ast.Import, ast.ImportFrom))
            for a in n.names if a.asname}


def _modules(tree: Path) -> list[Path]:
    return [tree / ENTRY, *sorted((tree / PACKAGE).rglob("*.py"))]


def _is_checked(rel: str, name: str, node: ast.AST) -> bool:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return True
    return rel == ENTRY and name.startswith("_") and name.endswith("_SQL")


def unreachable(tree: Path = TREE) -> list[str]:
    """`path:name` of each checked definition no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST, dict[str, str]]]] = {}
    live: set[str] = set(KEEP) | set(DEFERRED)
    for path in _modules(tree):
        rel = path.relative_to(tree).as_posix()
        mod = ast.parse(path.read_text())
        aliases = _aliases(mod)
        for node in mod.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                names = [n.id for t in targets for n in ast.walk(t)
                         if isinstance(n, ast.Name)]
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            else:  # runs at import time
                live |= {aliases.get(r, r) for r in _refs(node)} | _refs(node)
                continue
            for name in names:
                defs.setdefault(name, []).append((rel, node, aliases))
        live |= set(ROOTS.get(rel, ()))
    for pattern in ROOT_FILES:
        for path in sorted(tree.glob(pattern)):
            live |= _refs(ast.parse(path.read_text()))
    stack, seen = list(live), set()
    while stack:
        name = stack.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node, aliases in defs.get(name, ()):
            refs = _refs(node)
            stack.extend(refs | {aliases[r] for r in refs if r in aliases})
    return sorted(f"{rel}:{name}" for name, sites in defs.items()
                  if name not in seen
                  for rel, node, _ in sites if _is_checked(rel, name, node))


def _module_imports(body: list[ast.stmt]):
    for node in body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, (ast.If, ast.Try)):
            for block in (node.body, node.orelse,
                          getattr(node, "finalbody", []),
                          *(h.body for h in getattr(node, "handlers", []))):
                yield from _module_imports(block)


def unused_imports(tree: Path = TREE) -> list[str]:
    """`path:name` of each module-level import its module never uses
    (`from __future__` and `__init__.py` re-exports excepted)."""
    out = []
    for path in _modules(tree):
        if path.name == "__init__.py":
            continue
        mod = ast.parse(path.read_text())
        imports = list(_module_imports(mod.body))
        used: set[str] = set()
        for node in ast.walk(mod):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Constant) and isinstance(node.value,
                                                               str):
                used.update(_IDENT.findall(node.value))
        rel = path.relative_to(tree).as_posix()
        for node in imports:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                bound = a.asname or a.name.split(".")[0]
                if bound not in used:
                    out.append(f"{rel}:{bound}")
    return out


def test_entry_has_no_unreachable_board_code():
    dead = [d for d in unreachable() if d.startswith(f"{ENTRY}:")]
    assert not dead, f"unreachable in {ENTRY}: {dead}"


def test_package_has_no_unreachable_code():
    dead = [d for d in unreachable() if not d.startswith(f"{ENTRY}:")]
    assert not dead, f"reached by no entry point: {dead}"


def test_package_has_no_unused_imports():
    unused = unused_imports()
    assert not unused, f"imported but never used: {unused}"


def _copy_tree(dst: Path) -> Path:
    shutil.copytree(TREE / PACKAGE, dst / PACKAGE,
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copytree(TREE / "perfbench", dst / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".bench_*"))
    for name in (ENTRY, "bench.py", "bench_extra.py"):
        shutil.copy(TREE / name, dst / name)
    return dst


def test_checker_reports_planted_dead_code(tmp_path):
    tree = _copy_tree(tmp_path)
    target = tree / PACKAGE / "oracle.py"
    target.write_text(target.read_text()
                      + "\n\ndef planted_orphan():\n    return 1\n"
                      + "\n\ndef planted_tested_only():\n    return 2\n")
    (tree / "tests").mkdir()
    (tree / "tests" / "test_x.py").write_text(
        "from smart_pdf_md_spark.oracle import planted_tested_only\n\n\n"
        "def test_it():\n    assert planted_tested_only() == 2\n")
    assert (set(unreachable(tree)) - set(unreachable())
            == {f"{PACKAGE}/oracle.py:planted_orphan",
                f"{PACKAGE}/oracle.py:planted_tested_only"})
    assert unused_imports(tree) == unused_imports()


def test_checker_reports_planted_unused_import(tmp_path):
    tree = _copy_tree(tmp_path)
    target = tree / PACKAGE / "oracle.py"
    target.write_text(target.read_text() + "\nimport json as planted_json\n")
    init = tree / PACKAGE / "__init__.py"
    init.write_text("from .oracle import oracle_triples  # re-export\n"
                    + init.read_text())
    assert (set(unused_imports(tree)) - set(unused_imports())
            == {f"{PACKAGE}/oracle.py:planted_json"})
