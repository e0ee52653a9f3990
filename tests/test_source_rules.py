"""Source-level rules over the production files (no Spark needed)."""
from __future__ import annotations

import ast
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "climatemind_ontology_processing_spark"


def _production_files() -> list[Path]:
    return [ROOT / "__spark_entry__.py", *sorted(ROOT.glob("bench*.py")),
            *sorted((ROOT / "bin").glob("*.py")),
            *sorted((ROOT / "tools").glob("*.py")),
            *sorted(PKG.rglob("*.py"))]


def test_production_files_compile_warning_free():
    """An invalid escape such as ``"\\p"`` in a non-raw literal is a
    warning today and a syntax error in a later Python; the whole driver
    module would stop importing."""
    bad = []
    for path in _production_files():
        with warnings.catch_warnings():
            warnings.simplefilter("error", SyntaxWarning)
            warnings.simplefilter("error", DeprecationWarning)
            try:
                compile(path.read_text(), str(path), "exec")
            except SyntaxError as e:
                bad.append(f"{path.relative_to(ROOT)}:{e.lineno}: {e.msg}")
    assert not bad, bad


def test_frames_from_driver_values_go_through_local_frame():
    """``createDataFrame`` builds a pickled Python RDD that re-serializes
    its rows in a Python stage on every action; the package builds such
    frames only through ``session.local_frame``, and only that helper
    calls Spark's Arrow conversion."""
    found = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("createDataFrame",
                                           "_create_from_pandas_with_arrow")):
                found.append((path.relative_to(PKG).as_posix(),
                              owner.get(node), node.func.attr))
    assert found == [("session.py", "local_frame",
                      "_create_from_pandas_with_arrow")], found
