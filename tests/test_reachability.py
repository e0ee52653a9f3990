"""Every package module has a production caller (no Spark needed).

Walks ``import``/``from`` statements with ``ast`` from the production entry
points (the two CLIs, the driver contract, the benchmarks) and asserts that
each module of the package is reached.  A module that only its own tests
import is dead weight: wire it into an entry point or delete it.
"""
from __future__ import annotations

import ast
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "climatemind_ontology_processing_spark"


def _entry_points() -> list[Path]:
    return [*sorted((ROOT / "bin").glob("*.py")),
            ROOT / "__spark_entry__.py", ROOT / "bench.py",
            ROOT / "bench_extra.py",
            *sorted((ROOT / "perfbench").glob("*.py"))]


def _module_file(dotted: str, base: Path) -> Path | None:
    """The file ``dotted`` names, looked up under ``base``."""
    stem = base.joinpath(*dotted.split("."))
    for path in (stem.with_suffix(".py"), stem / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_files(path: Path) -> set[Path]:
    """Repo files that ``path`` imports, at any nesting depth.

    ``from X import Y`` counts ``X`` and, when ``Y`` is a submodule, ``Y``
    too.  Relative imports resolve against the importing package; absolute
    ones against the repo root and the importer's own directory
    (perfbench's sibling imports).
    """
    with warnings.catch_warnings():  # invalid escapes in SQL strings
        warnings.simplefilter("ignore")
        tree = ast.parse(path.read_text(), str(path))
    names: list[tuple[str, Path]] = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names]
            bases = (ROOT, path.parent)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            prefix = f"{mod}." if mod else ""
            mods = [mod, *(prefix + a.name for a in node.names)]
            bases = ((path.parents[node.level - 1],) if node.level
                     else (ROOT, path.parent))
        else:
            continue
        names += [(m, b) for m in mods if m for b in bases]
    found = set()
    for dotted, base in names:
        # importing a.b.c also executes a/__init__ and a/b/__init__
        parts = dotted.split(".")
        for i in range(1, len(parts) + 1):
            hit = _module_file(".".join(parts[:i]), base)
            if hit is not None:
                found.add(hit.resolve())
    return found


def _reached() -> set[Path]:
    todo = [p.resolve() for p in _entry_points()]
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        todo.extend(_imported_files(path) - seen)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    reached = _reached()
    pkg = ROOT / PKG
    unreached = sorted(
        str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
        if p.name != "__init__.py" and p.resolve() not in reached)
    assert not unreached, (
        "package modules no production entry point imports "
        f"(wire each into one or delete it): {unreached}")
