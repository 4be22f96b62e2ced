"""Every package module and every top-level package function or class is
reached from a served entry point, and every package name a served root
imports exists.

Walks ``import`` / ``from ... import`` statements with ``ast`` (imports
inside functions and relative imports included) from the driver
contract, ``bench.py``, the CLI, ``perfbench/*.py`` and ``tools/*.py``.
A module under ``greenbuttonengine_spark/`` that no walk reaches is
served by nothing but tests: delete it, or give it a caller.  A root's
function-level import of a renamed package name only fails when that
function runs, and nothing else runs the tools, so the names are
resolved here.

The name walk starts from the same roots, every package module's
import-time code (``__all__``, registrations, constants), every
``@register`` query builder and every module ``__getattr__``, and
follows the names each reached body uses: a bare name through the
module's own definitions and imports, an attribute of an imported
module to that module, any other attribute and any identifier-shaped
string (``getattr``, ``__all__``) to every definition of that name.
Docstrings and ``doc=`` texts are prose, not references.
"""

from __future__ import annotations

import ast
import importlib
import re
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


def _imports(path: Path) -> list[tuple[int, str, str | None, str]]:
    """``(line, module, name, alias)`` for each name the file at ``path``
    imports, relative imports resolved; ``name`` is None for ``import
    module``, and ``alias`` is the local name the statement binds."""
    is_pkg = path.name == "__init__.py"
    package = _module_name(path).split(".") if path.is_relative_to(REPO / PKG) else []
    if package and not is_pkg:
        package.pop()
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [
                (node.lineno, a.name, None, a.asname or a.name.split(".")[0])
                for a in node.names
            ]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package[: len(package) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module
            out += [(node.lineno, base, a.name, a.asname or a.name) for a in node.names]
    return out


def _imported(path: Path) -> set[str]:
    """Dotted names that the file at ``path`` imports, with every parent
    package and every ``from pkg import name`` candidate submodule."""
    names: set[str] = set()
    for _, module, name, _ in _imports(path):
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
        for line, module, name, _ in _imports(root):
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


# The name walk.  A module's definitions are its top-level functions and
# classes; what the module runs at import (constants, ``__all__``,
# registrations, decorators) is reached whenever the module is.

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


class _Module:
    def __init__(self, path: Path):
        self.name = _module_name(path)
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {n.name: n for n in self.tree.body if isinstance(n, _DEFS)}
        self.bindings: dict[str, tuple[str, str | None]] = {}
        for _, module, name, alias in _imports(path):
            if name is None and alias == module.split(".")[0]:
                module = alias  # ``import a.b`` binds ``a``
            self.bindings.setdefault(alias, (module, name))
        self.import_time = [
            n for n in self.tree.body
            if not isinstance(n, _DEFS) and not _is_bare_string(n)
        ] + [d for n in self.defs.values() for d in n.decorator_list]


def _is_bare_string(node: ast.stmt) -> bool:
    return isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant)


def _prose(tree: ast.AST) -> set[int]:
    """ids of the docstring and ``doc=`` string nodes under ``tree``."""
    out = set()
    for node in ast.walk(tree):
        body = getattr(node, "body", None)
        if isinstance(node, (ast.Module, *_DEFS)) and body and _is_bare_string(body[0]):
            out.add(id(body[0].value))
        elif isinstance(node, ast.keyword) and node.arg == "doc":
            out.update(id(n) for n in ast.walk(node.value))
    return out


def _is_register(decorator: ast.expr) -> bool:
    func = decorator.func if isinstance(decorator, ast.Call) else decorator
    name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
    return name == "register"


class _NameWalk:
    def __init__(self):
        self.modules = {
            m.name: m for m in map(_Module, sorted((REPO / PKG).rglob("*.py")))
        }
        self.by_name: dict[str, set[tuple[str, str]]] = {}
        for m in self.modules.values():
            for name in m.defs:
                self.by_name.setdefault(name, set()).add((m.name, name))
        # a module ``__getattr__`` serves names no static binding shows
        self.lazy = {n for n, m in self.modules.items() if "__getattr__" in m.defs}

    def resolve(self, m: _Module | None, name: str) -> set[tuple[str, str]]:
        """The package definitions ``name`` denotes inside module ``m``."""
        for _ in range(10):  # re-export chains are short
            if m is None:
                return set()
            if name in m.defs:  # a root's own definitions are walked whole
                return {(m.name, name)} if m.name in self.modules else set()
            if name not in m.bindings:
                return self.by_name.get(name, set()) if m.name in self.lazy else set()
            target, name = m.bindings[name]
            if name is None or f"{target}.{name}" in self.modules:
                return set()  # a module, not a definition
            m = self.modules.get(target)
        return set()

    def module_bound(self, module: _Module, name: str) -> str | None:
        """The package module that ``name`` is bound to in ``module``."""
        target, attr = module.bindings.get(name, ("", None))
        full = target if attr is None else f"{target}.{attr}"
        return full if full in self.modules else None

    def refs(self, module: _Module, trees: list[ast.AST]) -> set[tuple[str, str]]:
        out: set[tuple[str, str]] = set()
        for tree in trees:
            prose = _prose(tree)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    out |= self.resolve(module, node.id)
                elif isinstance(node, ast.Attribute):
                    owner = None
                    if isinstance(node.value, ast.Name):
                        owner = self.module_bound(module, node.value.id)
                    if owner is not None:
                        out |= self.resolve(self.modules[owner], node.attr)
                    else:  # the owner's type is unknown: any definition
                        out |= self.by_name.get(node.attr, set())
                elif (
                    isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and id(node) not in prose
                    and _IDENT.fullmatch(node.value)
                ):
                    out |= self.by_name.get(node.value, set())
        return out

    def reached(self) -> set[tuple[str, str]]:
        todo: set[tuple[str, str]] = set()
        for path in _roots():
            if not path.is_relative_to(REPO / PKG):
                root = _Module(path)
                todo |= self.refs(root, [root.tree])
        for m in self.modules.values():
            todo |= self.refs(m, m.import_time)
            todo |= {
                (m.name, name)
                for name, node in m.defs.items()
                if name.startswith("__") or any(map(_is_register, node.decorator_list))
            }
        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            seen.add(key)
            module = self.modules[key[0]]
            todo |= self.refs(module, [module.defs[key[1]]]) - seen
        return seen


def _unreached_names() -> list[str]:
    walk = _NameWalk()
    defined = {(m.name, n) for m in walk.modules.values() for n in m.defs}
    return sorted(f"{mod}.{name}" for mod, name in defined - walk.reached())


def test_every_top_level_name_is_reached():
    unreached = _unreached_names()
    assert not unreached, f"functions and classes reached only by tests: {unreached}"
