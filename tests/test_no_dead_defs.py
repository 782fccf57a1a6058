"""Every top-level def in the package has a caller outside tests.

A function or class whose name appears nowhere in the package, the
tools, the pipeline benchmark or bench.py, other than in its own
definition, is code that only tests (or nobody) run: move it into the
test that uses it, or delete it. ``@query``-registered functions are
reached through the registry, so they are exempt.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_gardener_spark"

# Documented public surfaces with no in-repo caller: name -> reason.
ALLOWED = {
    "JobsClient": "Jobs API client that parser processes embed "
    "(README D10, MIGRATION.md Jobs API v2)",
    "export_partition": "partition export writers (README extensions, "
    "MIGRATION.md warehouse section)",
    "partition_report": "partition maintenance report (README "
    "extensions, MIGRATION.md warehouse section)",
    "asof_join_grouped": "grouped merge_asof variant (README extensions)",
}


def _sources() -> dict[Path, list[str]]:
    files = (
        sorted(PKG.rglob("*.py"))
        + sorted((ROOT / "tools").rglob("*.py"))
        + sorted((ROOT / "perfbench").rglob("*.py"))
        + [ROOT / "bench.py"]
    )
    return {p: p.read_text().splitlines() for p in files}


def _is_query(node: ast.AST) -> bool:
    for d in node.decorator_list:
        fn = d.func if isinstance(d, ast.Call) else d
        if isinstance(fn, ast.Name) and fn.id == "query":
            return True
    return False


def _referenced(name: str, own: Path, span: range, sources) -> bool:
    pat = re.compile(rf"\b{re.escape(name)}\b")
    for path, lines in sources.items():
        for lineno, line in enumerate(lines, 1):
            if path == own and lineno in span:
                continue
            if pat.search(line):
                return True
    return False


def test_every_top_level_def_has_a_non_test_caller():
    sources = _sources()
    dead, names = [], set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            names.add(node.name)
            if _is_query(node) or node.name in ALLOWED:
                continue
            start = min([node.lineno] + [d.lineno for d in node.decorator_list])
            span = range(start, node.end_lineno + 1)
            if not _referenced(node.name, path, span, sources):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "top-level defs without a non-test caller:\n" + "\n".join(
        dead
    )
    # an allow-list entry for a deleted def would only rot
    assert set(ALLOWED) <= names
