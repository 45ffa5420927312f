"""Layering guard for the fire-hotspot path: the modules that ingest,
enrich, publish and serve the INPE data must not import the vector
search kernels, the retired kernel suite (``suite``), the LLM-corpus
operators (the BPE tokenizer, the quality classifier) or the
incremental dedup index.
The dashboard query layer (``queries``) answers from the serving
context's in-memory cube, so it must not import Spark at all.
Every module of the package must be reachable by imports from its
entry points, so code nothing runs cannot linger, and every package
name and repository module that ``scripts/`` and ``perfbench/``
import must exist, so a deletion or a move cannot strand a script.
Spark-free: the checks read each module's source, and the traced
benchmark's wrap list and the scripts' imports are checked against
the package's attributes and the repository modules' sources."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import sys
from collections import Counter
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


def _module_file(module: str) -> Path | None:
    """The source file of package module ``module`` (dotted name below
    the package, "" for the package itself), or None."""
    parts = module.split(".") if module else []
    for path in (
        PKG_DIR.joinpath(*parts[:-1], f"{parts[-1]}.py") if parts else None,
        PKG_DIR.joinpath(*parts, "__init__.py"),
    ):
        if path is not None and path.is_file():
            return path
    return None


def _imported_modules(module: str) -> set[str]:
    """Absolute names of every module ``module`` imports, anywhere in
    its body (function-local imports included), with relative imports
    resolved against the module's own package. ``from X import y``
    yields both X and X.y, since y may itself be a module."""
    path = _module_file(module)
    here = [PKG, *module.split(".")] if module else [PKG]
    if path.name != "__init__.py":
        here = here[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = here[: len(here) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
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


ENTRY_POINTS = (
    "__main__",
    "cli",
    "api",
    "pipeline",
    "streaming",
    "corpus_pipeline",
)


def _package_imports(module: str) -> set[str]:
    """Package modules (dotted names below the package) that importing
    ``module`` runs: each one it imports and their parent packages."""
    out: set[str] = set()
    for name in _imported_modules(module):
        parts = name.split(".")
        if parts[0] != PKG:
            continue
        out.update(
            ".".join(parts[1:i])
            for i in range(1, len(parts) + 1)
            if _module_file(".".join(parts[1:i]))
        )
    return out


def test_every_module_is_reachable_from_an_entry_point():
    # the walk must see through relative imports in subpackages and
    # function-local imports, or the guard would pass vacuously
    assert "operators.geo" in _package_imports("operators.geometry")
    assert "corpus_ops" in _package_imports("operators.mixture")
    assert "functions.core" in _package_imports("functions")
    seen: set[str] = set()
    todo = list(ENTRY_POINTS)
    while todo:
        module = todo.pop()
        if module not in seen:
            seen.add(module)
            todo.extend(_package_imports(module))
    modules = {
        ".".join(p.relative_to(PKG_DIR).with_suffix("").parts).removesuffix("__init__").rstrip(".")
        for p in PKG_DIR.rglob("*.py")
    }
    assert sorted(modules - seen) == []


REPO = PKG_DIR.parent
SCRIPT_DIRS = (REPO / "scripts", REPO / "perfbench")
SCRIPTS = tuple(p for d in SCRIPT_DIRS for p in sorted(d.glob("*.py")))


def _package_name_imports(path: Path):
    """``(line, module, names)`` for every absolute import of the
    package in ``path``, function-local imports included."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            imports = [(node.module, [a.name for a in node.names])]
        elif isinstance(node, ast.Import):
            imports = [(a.name, []) for a in node.names]
        else:
            continue
        for module, names in imports:
            if module.split(".")[0] == PKG:
                yield node.lineno, module, names


def _missing_names(module: str, names: list[str]) -> list[str]:
    """What of ``from module import names`` would fail: the module
    itself, or each name that is neither an attribute nor a
    submodule of it."""
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return [module]
    missing = []
    for name in names:
        if name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    return missing


def test_scripts_import_only_existing_package_names():
    checked = 0
    broken = []
    for path in SCRIPTS:
        for line, module, names in _package_name_imports(path):
            checked += 1
            broken.extend(
                f"{path.relative_to(REPO)}:{line}: {name}"
                for name in _missing_names(module, names)
            )
    # the scan must find the scripts' imports, or it passes vacuously
    assert checked > 15
    assert broken == []


# the top-level modules a script may import by bare name: its
# launcher puts the repo root, scripts/ and perfbench/ on sys.path
REPO_MODULES = {
    p.stem: p for d in (REPO, *SCRIPT_DIRS) for p in sorted(d.glob("*.py"))
}


def _top_level_names(path: Path) -> set[str]:
    """Names a ``from <module> import name`` of ``path`` can bind:
    its top-level definitions, assignments and imports."""
    out: set[str] = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out.update((a.asname or a.name).split(".")[0] for a in node.names)
    return out


def _is_installed(name: str) -> bool:
    """Whether ``name`` imports from the standard library or an
    installed distribution, not from a file of this repository."""
    if name in sys.stdlib_module_names:
        return True
    spec = importlib.util.find_spec(name)
    origin = Path(spec.origin).resolve() if spec and spec.origin else None
    return spec is not None and not (origin and origin.is_relative_to(REPO))


def test_scripts_import_only_existing_repo_modules():
    """A bare-name import in a script (``import gen``, ``from
    scaling_pipeline import gen_documents``, function-local ones too) that
    is neither installed nor the package must name a module at the
    repo root, in scripts/ or in perfbench/, and each imported name
    must be defined at that module's top level."""
    checked = 0
    broken = []
    for path in SCRIPTS:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                imports = [(node.module, [a.name for a in node.names])]
            elif isinstance(node, ast.Import):
                imports = [(a.name, []) for a in node.names]
            else:
                continue
            for module, names in imports:
                top = module.split(".")[0]
                if top == PKG or (top not in REPO_MODULES and _is_installed(top)):
                    continue
                checked += 1
                where = f"{path.relative_to(REPO)}:{node.lineno}"
                if module not in REPO_MODULES:
                    broken.append(f"{where}: {module}")
                    continue
                defined = _top_level_names(REPO_MODULES[module])
                broken.extend(f"{where}: {module}.{n}" for n in names if n not in defined)
    # the scan must find the scripts' repo-module imports, or it passes
    # vacuously
    assert checked > 10
    assert broken == []


REPO_PYTHON = (
    *sorted(PKG_DIR.rglob("*.py")),
    *sorted((REPO / "tests").glob("*.py")),
    *SCRIPTS,
)


def _referenced_names(node: ast.AST) -> list[str]:
    """Every name ``node`` mentions: variable names, attribute names,
    imported names and identifier-shaped string constants (getattr
    targets, wrap lists)."""
    out = []
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.append(n.id)
        elif isinstance(n, ast.Attribute):
            out.append(n.attr)
        elif isinstance(n, ast.alias):
            out.extend(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.append(n.value)
    return out


def test_every_top_level_definition_is_used():
    """Every undecorated top-level function or class of the package is
    named somewhere in the repo's Python outside its own body, so a
    deletion cannot leave a helper behind. Decorated definitions are
    exempt."""
    counts: Counter[str] = Counter()
    defs = []
    for path in REPO_PYTHON:
        tree = ast.parse(path.read_text())
        counts.update(_referenced_names(tree))
        if path.is_relative_to(PKG_DIR):
            defs.extend(
                (path, node)
                for node in tree.body
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                )
            )
    # the scan must see the package's definitions, or it passes vacuously
    assert len(defs) > 200
    orphans = [
        f"{path.relative_to(REPO)}:{node.lineno}: {node.name}"
        for path, node in defs
        if not node.decorator_list
        and counts[node.name] == _referenced_names(node).count(node.name)
    ]
    assert orphans == []


def test_query_layer_does_not_import_spark():
    names = _imported_modules("queries")
    # the scan must see the module's imports, or the guard is vacuous
    assert "numpy" in names and "pyarrow" in names
    assert not sorted(n for n in names if n.split(".")[0] == "pyspark")


def test_geometry_serving_does_not_import_spark():
    """The UF shapes and the municipality lookup are served from the
    geometry dims in Python, and cli.load_dims reads those dims in
    Python, so the geometry query layer, the prep chain it reads and
    the shapefile and GeoJSON readers import no Spark."""
    for module, dep in {
        "geoqueries": "operators.geometry",
        "geoprep": "operators.geometry",
        "sources.shapefile": "operators.geometry",
        "sources.geojson_source": "operators.geo",
    }.items():
        names = _imported_modules(module)
        # the scan must see the module's imports, or the guard is vacuous
        assert f"{PKG}.{dep}" in names, module
        assert not sorted(n for n in names if n.split(".")[0] == "pyspark"), module


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
