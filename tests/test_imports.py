"""Every ``import data_spark…`` / ``from data_spark… import …`` in the
package, its tests, ``tools/`` and ``bench.py`` resolves, including
function-local imports that would otherwise fail only when the
function runs (on an executor, at action time, or in a test outside
the default lane). Reads the sources only; needs no Spark session."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCES = ("data_spark", "tests", "tools", "bench.py")


def _package_imports():
    """("file:line", module, name) for every data_spark import in
    ``SOURCES``; ``name`` is None for a plain ``import``."""
    for src in map(ROOT.joinpath, SOURCES):
        for path in sorted(src.rglob("*.py")) if src.is_dir() else [src]:
            rel = path.relative_to(ROOT)
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
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return None
    # only a package has submodules; asking a plain module for one raises
    if hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}"):
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
