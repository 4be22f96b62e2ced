"""Every package module is reached from a served entry point.

Walks ``import`` / ``from ... import`` statements with ``ast`` (imports
inside functions and relative imports included) from the driver
contract, ``bench.py``, the CLI, ``perfbench/*.py`` and ``tools/*.py``.
A module under ``greenbuttonengine_spark/`` that no walk reaches is
served by nothing but tests: delete it, or give it a caller.
"""

from __future__ import annotations

import ast
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


def _imported(path: Path) -> set[str]:
    """Dotted names that the file at ``path`` imports, with every parent
    package and every ``from pkg import name`` candidate submodule."""
    is_pkg = path.name == "__init__.py"
    package = _module_name(path).split(".") if path.is_relative_to(REPO / PKG) else []
    if package and not is_pkg:
        package.pop()
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    with_parents = set()
    for name in names:
        parts = name.split(".")
        with_parents.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {n for n in with_parents if n.split(".")[0] == PKG}


def _reached() -> set[str]:
    roots = [REPO / "__spark_entry__.py", REPO / "bench.py", REPO / PKG / "cli.py"]
    roots += sorted((REPO / "perfbench").glob("*.py"))
    roots += sorted((REPO / "tools").glob("*.py"))
    seen: set[str] = set()
    todo = list(roots)
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
