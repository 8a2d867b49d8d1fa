"""Every package module is imported, directly or transitively, from an
entry point: jobs/*.py, __spark_entry__.py, scripts/check_oracles.py or
perfbench/. A module no entry point reaches is dead code, and so is a
top-level def/class of a reached module that no entry point or reached
module names. Pure AST walks, no Spark. The image codec module is the
known unreached one; KNOWN_UNREACHED and KNOWN_TEST_ONLY must match
exactly, so new dead code fails and so does a stale entry."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "py_image_dedup_spark"
KNOWN_UNREACHED = {f"{PKG}.operators.multimodal"}
# the reference that test_mapside_election_matches_elect_then_sign checks
# the map-side election against
KNOWN_TEST_ONLY = {f"{PKG}.operators.exact.exact_unique_representatives"}
ENTRY_POINTS = [
    *ROOT.glob("jobs/*.py"), ROOT / "__spark_entry__.py",
    ROOT / "scripts" / "check_oracles.py", *ROOT.glob("perfbench/*.py"),
]
MODULES = {
    ".".join(f.relative_to(ROOT).with_suffix("").parts).removesuffix(
        ".__init__"): f
    for f in (ROOT / PKG).rglob("*.py")
}


def _imported(path: Path) -> set[str]:
    """Package modules that `path` imports, parent packages included."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            # `from pkg import mod` imports pkg.mod when that is a module
            names.update([node.module],
                         (f"{node.module}.{a.name}" for a in node.names))
    return {".".join(n.split(".")[:i + 1]) for n in names
            for i in range(n.count(".") + 1)} & MODULES.keys()


def _reached() -> set[str]:
    reached: set[str] = set()
    todo = [m for p in ENTRY_POINTS for m in _imported(p)]
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo.extend(_imported(MODULES[m]))
    return reached


def _referenced(path: Path) -> set[str]:
    """Every name `path` uses: bare names, attributes, imported names."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.update(node.name.split("."))
    return names


def test_every_package_module_is_reached_from_an_entry_point():
    unreached = MODULES.keys() - _reached()
    assert unreached == KNOWN_UNREACHED, (
        f"no entry point imports {sorted(unreached - KNOWN_UNREACHED)}; "
        f"reached or gone: {sorted(KNOWN_UNREACHED - unreached)}")


def test_every_top_level_name_is_used_outside_tests():
    reached = _reached()
    used = set().union(*(_referenced(p) for p in
                         [*ENTRY_POINTS, *(MODULES[m] for m in reached)]))
    unused = {
        f"{m}.{node.name}"
        for m in reached
        for node in ast.parse(MODULES[m].read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef))
        and node.name not in used
    }
    assert unused == KNOWN_TEST_ONLY, (
        f"nothing outside tests uses {sorted(unused - KNOWN_TEST_ONLY)}; "
        f"used or gone: {sorted(KNOWN_TEST_ONLY - unused)}")
