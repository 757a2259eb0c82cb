"""Every package module must be reached by something a user runs, and
every registered operator query is a driver row or a named exception.

A module is reached when it registers a driver row
(``__spark_entry__.DRIVER_ROWS``) or when a non-test file outside the
package imports it: ``examples/``, ``scripts/``, ``bench.py`` or
``__spark_entry__.py``.  Reach then spreads along the package's own static
imports, so a helper counts only if a reached module imports it.  The
dynamic import in ``operators.collect`` is no reach: it loads every
operator module whether anything uses it or not.  A module that only its
own tests reach is dead weight.  Spark-free: modules are imported and
sources parsed, nothing runs.
"""

import ast
import importlib
import os
import pkgutil

import __spark_entry__ as entry
from tablestructurerec_spark import operators

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "tablestructurerec_spark"

# registered operator queries that are not driver rows, each with its reason
QUERY_EXCEPTIONS = {
    "ann_bruteforce_topk": "the exact top-k that ann_pq_topk's recall is "
    "measured against (tests/test_pq.py); its module oracle keeps a DuckDB "
    "parity test (tests/test_evicted_parity.py)",
    "t_split_leakage_emb": "run by scripts/sf10_hostile.sh through "
    "bench.py --queries",
}

# modules kept without a reach, each with its reason
EXCEPTIONS = {
    f"{PKG}.inference.artifacts": "reference-contract stand-in (COVERAGE S2)",
    f"{PKG}.inference.classifiers": "reference-contract stand-in (COVERAGE M5/M6)",
    f"{PKG}.inference.multimodal": "reference-contract stand-in (COVERAGE M8)",
    f"{PKG}.inference.resize": "reference-contract stand-in (COVERAGE M8)",
    f"{PKG}.plans.bucketing": "the input layout the snapshot and "
    "dedup_incremental joins are tested on",
    f"{PKG}.operators.leakage": "run by scripts/sf10_hostile.sh through "
    "bench.py --queries",
}


def _py_files(sub):
    for root, _dirs, files in os.walk(os.path.join(REPO_ROOT, sub)):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)


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


def _modules_of(names, modules):
    """The package modules ``names`` load: each name's longest module
    prefix, plus that module's parent packages."""
    out = set()
    for name in names:
        parts = name.split(".")
        for i in range(len(parts), 0, -1):
            if ".".join(parts[:i]) in modules:
                out.update(".".join(parts[:j]) for j in range(1, i + 1))
                break
    return out


def _unreached():
    files = {_dotted(p): p for p in _py_files(PKG)}
    driver_rows = set(entry.DRIVER_ROWS)
    seeds = set()
    for info in pkgutil.iter_modules(operators.__path__):
        full = f"{operators.__name__}.{info.name}"
        if driver_rows & set(getattr(importlib.import_module(full), "QUERIES", {})):
            seeds.add(full)
    users = [
        *_py_files("examples"),
        *_py_files("scripts"),
        os.path.join(REPO_ROOT, "bench.py"),
        os.path.join(REPO_ROOT, "__spark_entry__.py"),
    ]
    for path in users:
        seeds |= _modules_of(_imported_names(path), files)
    reached = set()
    todo = list(_modules_of(seeds, files))
    while todo:
        mod = todo.pop()
        if mod not in reached:
            reached.add(mod)
            todo.extend(_modules_of(_imported_names(files[mod]), files))
    return set(files) - reached


def test_every_package_module_is_reached():
    assert sorted(_unreached()) == sorted(EXCEPTIONS)


def test_registered_queries_are_driver_rows_or_named_exceptions():
    # a registered query is timed by bench.py and compiled by the codegen
    # pin, so beyond the driver rows each one needs a reason here
    registered = set(operators.collect("QUERIES"))
    assert registered - set(entry.DRIVER_ROWS) == set(QUERY_EXCEPTIONS)
