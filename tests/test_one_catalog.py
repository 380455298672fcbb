"""One snapshot catalog: every persisted manifest in the package is
committed by ``plans/checkpoints.py::SnapshotCatalog``.  No other module
calls ``os.replace`` or writes JSON to a file (``json.dump``, or
``json.dumps`` handed to a ``write``/``write_text`` call), so the crawl
engine and the URL-seen store cannot grow private manifest writers again."""

import ast
import pathlib

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "marginaliasearch_spark"
CATALOG = PKG / "plans" / "checkpoints.py"
FORBIDDEN = {("os", "replace"), ("json", "dump")}

MODULE_FILES = sorted(p for p in PKG.rglob("*.py") if p != CATALOG)


def _dotted(node) -> tuple:
    if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
        return (node.value.id, node.attr)
    return ()


def _writers(tree) -> list:
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module in ("os", "json"):
            found += [
                (node.lineno, f"from {node.module} import {a.name}")
                for a in node.names
                if (node.module, a.name) in FORBIDDEN
            ]
        if not isinstance(node, ast.Call):
            continue
        if _dotted(node.func) in FORBIDDEN:
            found.append((node.lineno, ".".join(_dotted(node.func))))
        elif isinstance(node.func, ast.Attribute) and node.func.attr in ("write", "write_text"):
            if any(
                isinstance(a, ast.Call) and _dotted(a.func) == ("json", "dumps")
                for arg in node.args
                for a in ast.walk(arg)
            ):
                found.append((node.lineno, f"{node.func.attr}(json.dumps(...))"))
    return found


def test_the_catalog_is_a_manifest_writer():
    """The guard looks for the right thing: the catalog's own commit is
    found by it."""
    found = {what for _, what in _writers(ast.parse(CATALOG.read_text()))}
    assert found == {"os.replace", "json.dump"}


@pytest.mark.parametrize("path", MODULE_FILES, ids=lambda p: str(p.relative_to(PKG)))
def test_no_manifest_writer_outside_the_catalog(path):
    found = _writers(ast.parse(path.read_text(), filename=str(path)))
    assert not found, f"{path.relative_to(PKG)} writes a manifest outside SnapshotCatalog: {found}"
