"""Layering guards. Storage mechanics live in pipeline/; plans/ holds
query plans and may call down into pipeline/, never the other way round,
so a kind-specific kernel reaches the store only as an argument (e.g.
the ``assign`` callable of pipeline/ann_index.append_generation) or
from operators/ (MinHash-LSH: operators/minhash.py). streaming/ builds
on pipeline/, so pipeline/ never imports streaming/."""

from __future__ import annotations

import ast
from pathlib import Path

_PKG = "projekt_data_engineering_iubh_spark"
_ROOT = Path(__file__).resolve().parent.parent / _PKG
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


def _offenders(layers: tuple[str, ...], forbidden: tuple[str, ...]):
    out = []
    for layer in layers:
        for path in sorted((_ROOT / layer).glob("*.py")):
            module = f"{_PKG}.{layer}.{path.stem}"
            tree = ast.parse(path.read_text(), filename=str(path))
            for line, name in _imported_modules(tree, module):
                if any(name == f or name.startswith(f + ".") for f in forbidden):
                    out.append(f"{layer}/{path.name}:{line} imports {name}")
    return out


def test_pipeline_never_imports_vector_queries():
    offenders = _offenders(("pipeline",), (_FORBIDDEN,))
    assert not offenders, "\n".join(offenders)


def test_pipeline_and_streaming_never_import_text_plans():
    offenders = _offenders(
        ("pipeline", "streaming"),
        (f"{_PKG}.plans.text_queries", f"{_PKG}.plans.curation_queries"),
    )
    assert not offenders, "\n".join(offenders)


def test_pipeline_never_imports_streaming():
    offenders = _offenders(("pipeline",), (f"{_PKG}.streaming",))
    assert not offenders, "\n".join(offenders)
