"""One Python↔JVM boundary idiom: operators/, plans/ and functions/ cross
it through Arrow only (``arrow_udf``, ``mapInArrow``, ``applyInArrow``),
and importing them does not load pandas.  ``streaming/livecrawl.py``
(``applyInPandasWithState``) is the one documented exception and lives
outside these packages."""

import ast
import pathlib
import subprocess
import sys

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "marginaliasearch_spark"
SUBPACKAGES = ("operators", "plans", "functions")
PANDAS_BOUNDARY = {"pandas_udf", "mapInPandas", "applyInPandas", "applyInPandasWithState"}

MODULE_FILES = sorted(p for sub in SUBPACKAGES for p in (PKG / sub).glob("*.py"))


def test_importing_the_packages_loads_no_pandas():
    mods = [
        f"marginaliasearch_spark.{p.parent.name}.{p.stem}"
        for p in MODULE_FILES
        if p.stem != "__init__"
    ]
    code = (
        "import importlib, sys\n"
        f"for m in {mods!r}:\n"
        "    importlib.import_module(m)\n"
        "loaded = 'pandas' in sys.modules\n"
        "print('PANDAS' if loaded else 'CLEAN')\n"
    )
    res = subprocess.run(
        [sys.executable, "-c", code],
        cwd=PKG.parent,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr
    assert res.stdout.strip().splitlines()[-1] == "CLEAN", (
        "importing operators/, plans/ and functions/ loaded pandas"
    )


@pytest.mark.parametrize("path", MODULE_FILES, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_no_pandas_boundary_in_source(path):
    """AST check, so docstrings and comments do not count: no pandas UDF
    or pandas map/apply name or attribute, and no ``import pandas`` at
    any depth (lazy imports inside functions included)."""
    tree = ast.parse(path.read_text(), filename=str(path))
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id in PANDAS_BOUNDARY:
            found.append((node.lineno, node.id))
        elif isinstance(node, ast.Attribute) and node.attr in PANDAS_BOUNDARY:
            found.append((node.lineno, node.attr))
        elif isinstance(node, ast.alias) and node.name in PANDAS_BOUNDARY:
            found.append((node.lineno, f"import {node.name}"))
        elif isinstance(node, ast.Import):
            found += [
                (node.lineno, f"import {a.name}")
                for a in node.names
                if a.name.split(".")[0] == "pandas"
            ]
        elif isinstance(node, ast.ImportFrom) and node.module and (
            node.module.split(".")[0] == "pandas"
        ):
            found.append((node.lineno, f"from {node.module} import ..."))
    assert not found, f"{path.name}: pandas boundary at {found}"
