"""The engine crosses into Python only through Arrow: no module of the
package imports pandas or plans a pandas stage (``mapInPandas``,
``applyInPandas*``), except the test helpers that compare DataFrames."""

import ast
import pathlib

import py_image_toolkit_spark

_PKG = pathlib.Path(py_image_toolkit_spark.__file__).parent
_ALLOWED = {"testing.py", "oracle_compare.py"}


def _pandas_uses(tree: ast.AST):
    """(line, what) for each pandas import and pandas-stage attribute."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            if node.attr == "mapInPandas" or node.attr.startswith("applyInPandas"):
                yield node.lineno, node.attr
            continue
        if isinstance(node, ast.Import):
            modules = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            modules = [node.module or ""]
        else:
            continue
        for m in modules:
            if m == "pandas" or m.startswith("pandas."):
                yield node.lineno, f"import {m}"


def test_engine_modules_use_no_pandas():
    found = [
        f"{rel}:{line}: {what}"
        for path in sorted(_PKG.rglob("*.py"))
        if (rel := path.relative_to(_PKG).as_posix()) not in _ALLOWED
        for line, what in _pandas_uses(ast.parse(path.read_text(), str(path)))
    ]
    assert not found, found
