"""Every ``import data_spark…`` / ``from data_spark… import …`` in the
package resolves, including function-local imports that would
otherwise fail only when the function runs (on an executor, at action
time). Needs no Spark session."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "data_spark"


def _package_imports():
    """("file:line", module, name) for every data_spark import in the
    package; ``name`` is None for a plain ``import``."""
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG.parent)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "data_spark":
                        yield f"{rel}:{node.lineno}", alias.name, None
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level == 0 and mod.split(".")[0] == "data_spark":
                    for alias in node.names:
                        yield f"{rel}:{node.lineno}", mod, alias.name


def _problem(module: str, name: str | None) -> str | None:
    if importlib.util.find_spec(module) is None:
        return f"no module {module}"
    if name is None or name == "*":
        return None
    if hasattr(importlib.import_module(module), name):
        return None
    if importlib.util.find_spec(f"{module}.{name}") is not None:
        return None
    return f"{module} has no {name}"


def test_every_package_import_resolves():
    imports = list(_package_imports())
    assert imports
    problems = [
        f"{where}: {msg}"
        for where, module, name in imports
        if (msg := _problem(module, name)) is not None
    ]
    assert not problems, "\n".join(problems)
