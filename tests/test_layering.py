"""Layering guard: modules under pipeline/ never import the vector query
module. Storage mechanics live in pipeline/; plans/ holds query plans
and may call down into pipeline/, never the other way round, so a
kind-specific kernel reaches the store only as an argument (e.g. the
``assign`` callable of pipeline/ann_index.append_generation)."""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = "projekt_data_engineering_iubh_spark"
_PIPELINE = Path(__file__).resolve().parent.parent / _PKG / "pipeline"
_FORBIDDEN = f"{_PKG}.plans.vector_queries"


def _imported_modules(tree: ast.AST, module: str):
    """Yield (line, dotted name) for every module a file imports,
    resolving relative imports against the file's own ``module``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = module.rsplit(".", node.level)[0]
                base = f"{parent}.{base}" if base else parent
            yield node.lineno, base
            for alias in node.names:
                yield node.lineno, f"{base}.{alias.name}"


def test_pipeline_never_imports_vector_queries():
    offenders = []
    for path in sorted(_PIPELINE.glob("*.py")):
        module = f"{_PKG}.pipeline.{path.stem}"
        tree = ast.parse(path.read_text(), filename=str(path))
        for line, name in _imported_modules(tree, module):
            if name == _FORBIDDEN or name.startswith(_FORBIDDEN + "."):
                offenders.append(f"{path.name}:{line} imports {name}")
    assert not offenders, "\n".join(offenders)
