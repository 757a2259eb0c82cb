"""Every ``operators/`` module must be reached by something a user runs.

A module earns its place by registering a driver row
(``__spark_entry__.DRIVER_ROWS``) or by being imported from a non-test
Python file: the package itself, ``examples/``, ``scripts/``, ``bench.py``
or ``__spark_entry__.py``.  A module that only its own tests reach is dead
weight.  Spark-free: modules are imported and sources parsed, nothing runs.
"""

import ast
import importlib
import os
import pkgutil

import __spark_entry__ as entry
from tablestructurerec_spark import operators

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = operators.__name__

# modules kept without a driver row or a Python importer, each with its reason
EXCEPTIONS = {
    "table_ops": "the applyInPandas face of the reference kernels (COVERAGE A4)",
    "leakage": "run by scripts/sf10_hostile.sh through bench.py --queries",
}


def _source_files():
    for sub in ("tablestructurerec_spark", "examples", "scripts"):
        for root, _dirs, files in os.walk(os.path.join(REPO_ROOT, sub)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(root, f)
    for f in ("bench.py", "__spark_entry__.py"):
        yield os.path.join(REPO_ROOT, f)


def _dotted(path):
    rel = os.path.relpath(path, REPO_ROOT)[: -len(".py")].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imported_names(path):
    """Every dotted name an import statement in ``path`` can bind."""
    pkg = _dotted(path)
    if not path.endswith("__init__.py"):
        pkg = pkg.rpartition(".")[0]
    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(parent + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def _unreached():
    driver_rows = set(entry.DRIVER_ROWS)
    importers = {}
    for path in _source_files():
        for name in _imported_names(path):
            importers.setdefault(name, set()).add(_dotted(path))
    out = []
    for info in pkgutil.iter_modules(operators.__path__):
        full = f"{PKG}.{info.name}"
        mod = importlib.import_module(full)
        if driver_rows & set(getattr(mod, "QUERIES", {})):
            continue
        users = {
            user
            for name, by in importers.items()
            if name == full or name.startswith(full + ".")
            for user in by
        }
        if not users - {full}:
            out.append(info.name)
    return out


def test_every_operator_module_is_reached():
    assert sorted(_unreached()) == sorted(EXCEPTIONS)

