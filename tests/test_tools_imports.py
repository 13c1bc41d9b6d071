"""Every name a tool imports must still exist.

The tools under tools/ and bench.py run by hand, so no other test
imports them: a package helper deleted or moved under a kept tool would
only show when someone next runs it. The test files are walked too:
many import package names inside test bodies, and the heavy-gated ones
never run by default. This walks each file's AST (nothing is executed
and no Spark session starts) and checks that

- every ``from <package module> import name`` resolves to an attribute
  or a submodule of that module;
- every ``from <sibling> import name`` (a module in tools/, tests/ or
  the repository root, all of which the tools put on ``sys.path``)
  names something its file defines at top level;
- every attribute read off an imported module alias (``vq.X``,
  ``tq.X``, ``km.X``) exists on that module.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
PKG = "projekt_data_engineering_iubh_spark"
SIBLING_DIRS = (REPO / "tools", REPO / "tests", REPO)
FILES = (
    sorted((REPO / "tools").glob("*.py"))
    + [REPO / "bench.py"]
    + sorted((REPO / "tests").glob("*.py"))
)


def _top_level_names(tree: ast.Module) -> set[str]:
    """Names a module binds at top level, including inside top-level
    if/try blocks (optional imports, fallbacks)."""
    names: set[str] = set()
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(
                (a.asname or a.name).split(".")[0] for a in node.names
            )
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(
                    n.id for n in ast.walk(t) if isinstance(n, ast.Name)
                )
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for block in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, block, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    return names


class _Sibling:
    """A tools/, tests/ or root module, known by its AST only."""

    def __init__(self, path: Path):
        self.names = _top_level_names(ast.parse(path.read_text()))

    def has(self, name: str) -> bool:
        return name in self.names


class _Package:
    """A package module, imported (imports start no Spark session)."""

    def __init__(self, name: str):
        self.name = name
        self.module = importlib.import_module(name)

    def _submodule(self, name: str) -> bool:
        return hasattr(self.module, "__path__") and (
            importlib.util.find_spec(f"{self.name}.{name}") is not None
        )

    def has(self, name: str) -> bool:
        return hasattr(self.module, name) or self._submodule(name)

    def child(self, name: str):
        if isinstance(getattr(self.module, name, None), type(self.module)):
            return _Package(getattr(self.module, name).__name__)
        if self._submodule(name):
            return _Package(f"{self.name}.{name}")
        return None


def _sibling(module: str) -> _Sibling | None:
    if "." in module:
        return None
    for d in SIBLING_DIRS:
        p = d / f"{module}.py"
        if p.is_file():
            return _Sibling(p)
    return None


def _resolve(module: str):
    if module == PKG or module.startswith(PKG + "."):
        return _Package(module)
    return _sibling(module)


def unresolved(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    bad: list[str] = []
    aliases: dict[str, list] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            try:
                src = _resolve(node.module)
            except ImportError as e:
                bad.append(f"{node.lineno}: {node.module} ({e})")
                continue
            if src is None:
                continue
            for a in node.names:
                if a.name == "*":
                    continue
                if not src.has(a.name):
                    bad.append(f"{node.lineno}: {node.module}.{a.name}")
                elif isinstance(src, _Package) and (mod := src.child(a.name)):
                    aliases.setdefault(a.asname or a.name, []).append(mod)
        elif isinstance(node, ast.Import):
            for a in node.names:
                try:
                    src = _resolve(a.name)
                except ImportError as e:
                    bad.append(f"{node.lineno}: {a.name} ({e})")
                    continue
                if src is not None and a.asname:
                    aliases.setdefault(a.asname, []).append(src)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.ctx, ast.Load)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
            and not any(m.has(node.attr) for m in aliases[node.value.id])
        ):
            bad.append(f"{node.lineno}: {node.value.id}.{node.attr}")
    return bad


@pytest.mark.parametrize("path", FILES, ids=lambda p: p.name)
def test_tool_imports_resolve(path):
    bad = unresolved(path)
    assert not bad, f"{path.name}: unresolved imported names: {bad}"
