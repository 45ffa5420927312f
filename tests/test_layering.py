"""Layering guard for the fire-hotspot path: the modules that ingest,
enrich, publish and serve the INPE data must not import the vector
search kernels, the LLM-corpus operator suite (``suite``, the BPE
tokenizer, the quality classifier) or the incremental dedup index.
The dashboard query layer (``queries``) answers from the serving
context's in-memory cube, so it must not import Spark at all.
Spark-free: the checks read each module's source, and the traced
benchmark's wrap list is checked against the package's attributes."""

from __future__ import annotations

import ast
from pathlib import Path

import inpe_queimadas_etl_spark as pkg

PKG = pkg.__name__
PKG_DIR = Path(pkg.__file__).parent

FIRE_PATH = (
    "pipeline",
    "api",
    "cli",
    "streaming",
    "enrich",
    "marts",
    "queries",
    "geoqueries",
    "serving_cache",
)
FORBIDDEN = tuple(
    f"{PKG}.{m}"
    for m in (
        "operators.pq",
        "operators.annmaint",
        "operators.metaplane",
        "operators.bpe",
        "operators.classifier",
        "incremental",
        "suite",
    )
)


def _is_forbidden(name: str) -> bool:
    return any(name == f or name.startswith(f"{f}.") for f in FORBIDDEN)


def _imported_modules(module: str) -> set[str]:
    """Absolute names of every module ``module`` imports, anywhere in
    its body (function-local imports included). ``from X import y``
    yields both X and X.y, since y may itself be a module."""
    tree = ast.parse((PKG_DIR / f"{module}.py").read_text())
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                # every fire-path module sits at the package top level
                base = f"{PKG}.{node.module}" if node.module else PKG
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def test_fire_path_does_not_import_vector_search_modules():
    # the scan must see through the package's relative-import style,
    # or the guard would pass vacuously
    assert f"{PKG}.serving_cache.cached" in _imported_modules("api")
    offenders = {
        module: sorted(
            name
            for name in _imported_modules(module)
            if _is_forbidden(name)
        )
        for module in FIRE_PATH
    }
    offenders = {m: names for m, names in offenders.items() if names}
    assert not offenders, offenders


def test_query_layer_does_not_import_spark():
    names = _imported_modules("queries")
    # the scan must see the module's imports, or the guard is vacuous
    assert "numpy" in names and "pyarrow" in names
    assert not sorted(n for n in names if n.split(".")[0] == "pyspark")


class _RecordingTracer:
    """Stands in for perfbench's tracer: records what it is asked to
    wrap and wraps nothing."""

    def __init__(self):
        self.wrapped: list[tuple[object, str]] = []
        self._patches: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr, name, **kwargs):
        self.wrapped.append((owner, attr))


def test_traced_benchmark_wraps_only_existing_attributes():
    """The traced benchmark wraps package functions by name; a rename
    or deletion must fail here rather than crash the traced run."""
    import importlib.util

    from inpe_queimadas_etl_spark import api

    path = PKG_DIR.parent / "perfbench" / "layers.py"
    spec = importlib.util.spec_from_file_location("perfbench_layers", path)
    layers = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(layers)

    tracer = _RecordingTracer()
    orig_cached = api.cached
    try:
        layers.instrument(tracer)
    finally:
        api.cached = orig_cached
    assert len(tracer.wrapped) > 20
    missing = [
        f"{getattr(owner, '__name__', owner)}.{attr}"
        for owner, attr in tracer.wrapped
        if not hasattr(owner, attr)
    ]
    assert missing == []
