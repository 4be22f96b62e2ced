"""Every package module is reached from a served entry point, and every
package name a served root imports exists.

Walks ``import`` / ``from ... import`` statements with ``ast`` (imports
inside functions and relative imports included) from the driver
contract, ``bench.py``, the CLI, ``perfbench/*.py`` and ``tools/*.py``.
A module under ``greenbuttonengine_spark/`` that no walk reaches is
served by nothing but tests: delete it, or give it a caller.  A root's
function-level import of a renamed package name only fails when that
function runs, and nothing else runs the tools, so the names are
resolved here.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "greenbuttonengine_spark"


def _module_file(name: str) -> Path | None:
    base = REPO.joinpath(*name.split("."))
    for path in (base / "__init__.py", base.with_suffix(".py")):
        if path.is_file():
            return path
    return None


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path) -> list[tuple[int, str, str | None]]:
    """``(line, module, name)`` for each name the file at ``path`` imports,
    relative imports resolved; ``name`` is None for ``import module``."""
    is_pkg = path.name == "__init__.py"
    package = _module_name(path).split(".") if path.is_relative_to(REPO / PKG) else []
    if package and not is_pkg:
        package.pop()
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, alias.name, None) for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module
            out += [(node.lineno, base, alias.name) for alias in node.names]
    return out


def _imported(path: Path) -> set[str]:
    """Dotted names that the file at ``path`` imports, with every parent
    package and every ``from pkg import name`` candidate submodule."""
    names: set[str] = set()
    for _, module, name in _imports(path):
        names.add(module)
        if name is not None:
            names.add(f"{module}.{name}")
    with_parents = set()
    for name in names:
        parts = name.split(".")
        with_parents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {n for n in with_parents if n.split(".")[0] == PKG}


def _roots() -> list[Path]:
    roots = [REPO / "__spark_entry__.py", REPO / "bench.py", REPO / PKG / "cli.py"]
    roots += sorted((REPO / "perfbench").glob("*.py"))
    roots += sorted((REPO / "tools").glob("*.py"))
    return roots


def _reached() -> set[str]:
    seen: set[str] = set()
    todo = _roots()
    while todo:
        for name in _imported(todo.pop()) - seen:
            path = _module_file(name)
            if path is not None:
                seen.add(name)
                todo.append(path)
    return seen


def test_every_package_module_is_reached():
    modules = {_module_name(p) for p in (REPO / PKG).rglob("*.py")}
    unreached = sorted(modules - _reached())
    assert not unreached, f"modules reached only by tests: {unreached}"


def test_served_roots_import_names_that_exist():
    import __spark_entry__

    __spark_entry__._registry()  # import the query modules in gate order first
    missing = []
    for root in _roots():
        for line, module, name in _imports(root):
            if module.split(".")[0] != PKG:
                continue
            where = f"{root.relative_to(REPO)}:{line}"
            try:
                mod = importlib.import_module(module)
            except ImportError as ex:
                missing.append(f"{where}: {module} ({ex})")
                continue
            if name not in (None, "*") and not hasattr(mod, name) and (
                _module_file(f"{module}.{name}") is None
            ):
                missing.append(f"{where}: {module}.{name}")
    assert not missing, f"served roots import names that do not exist: {missing}"
