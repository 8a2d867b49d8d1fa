"""Every package module is imported, directly or transitively, from an
entry point: jobs/*.py, __spark_entry__.py, scripts/check_oracles.py or
perfbench/. A module no entry point reaches is dead code. Pure AST walk
over import statements (in-function imports included), no Spark. The
image/audio codecs are the known exception; KNOWN_UNREACHED must match
exactly, so a new dead module fails and so does a stale entry."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "py_image_dedup_spark"
KNOWN_UNREACHED = {f"{PKG}.operators.jpeg", f"{PKG}.operators.multimodal"}
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


def test_every_package_module_is_reached_from_an_entry_point():
    reached: set[str] = set()
    todo = [m for p in ENTRY_POINTS for m in _imported(p)]
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo.extend(_imported(MODULES[m]))
    unreached = MODULES.keys() - reached
    assert unreached == KNOWN_UNREACHED, (
        f"no entry point imports {sorted(unreached - KNOWN_UNREACHED)}; "
        f"reached or gone: {sorted(KNOWN_UNREACHED - unreached)}")
