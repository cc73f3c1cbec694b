"""Static import scan of the package source, shared by the tests that
pin which modules import which. Reads the files with ``ast``, so an
import inside a function counts as much as one at module level."""

from __future__ import annotations

import ast
from pathlib import Path

import udacity_dsnd_projects_spark

#: the package directory; module names are dotted paths below its parent
PACKAGE_DIR = Path(udacity_dsnd_projects_spark.__file__).parent


def module_name(path: Path) -> str:
    """``.../udacity_dsnd_projects_spark/streaming/sinks.py`` →
    ``udacity_dsnd_projects_spark.streaming.sinks``; an ``__init__.py``
    names its package."""
    parts = path.relative_to(PACKAGE_DIR.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def imported_names(path: Path) -> list[tuple[int, str]]:
    """Every ``(lineno, dotted name)`` the file imports, relative imports
    resolved. ``from m import x`` gives both ``m`` and ``m.x``, since
    ``x`` may be a submodule."""
    pkg = module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            module = ".".join(base + ([node.module] if node.module else []))
            names = [module] + [f"{module}.{a.name}" for a in node.names]
        else:
            continue
        found += [(node.lineno, n) for n in names]
    return found
