"""Static scans of the source, shared by the tests that pin which
modules import which and which names are used. Reads the files with
``ast``, so an import or a use inside a function counts as much as one
at module level."""

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


def public_definitions(path: Path) -> dict[str, ast.stmt]:
    """The public names a file defines at top level (functions, classes
    and assigned constants), each with the statement that defines it."""
    found = {}
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            found[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            found.update((t.id, node) for t in targets if isinstance(t, ast.Name))
    return {name: node for name, node in found.items() if not name.startswith("_")}


def name_uses() -> dict[str, list[tuple[Path, int]]]:
    """Every ``(path, lineno)`` in the package, its tests or the
    benchmark where a name is read, as ``name`` or as ``obj.name``. An
    import alone is not a use: a re-export that nothing reads keeps
    nothing alive."""
    uses: dict[str, list[tuple[Path, int]]] = {}
    for d in (PACKAGE_DIR.name, "tests", "perfbench"):
        for path in (PACKAGE_DIR.parent / d).rglob("*.py"):
            for node in ast.walk(ast.parse(path.read_text())):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                else:
                    continue
                uses.setdefault(name, []).append((path, node.lineno))
    return uses
