"""The engine does not depend on the contract harness.

The contract queries, their fixtures and their DuckDB oracles
(``geospatial_cuda_spark/contract/``) and the driver registry
(``entrypoints.py``, ``__spark_entry__.py``) sit on top of the engine. An
AST scan pins that no other module of the package, and no spark-submit job
under ``jobs/``, imports any of them.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "geospatial_cuda_spark"
HARNESS = (f"{PKG}.contract", f"{PKG}.entrypoints", "__spark_entry__")


def _module_name(path: str) -> str:
    rel = os.path.splitext(os.path.relpath(path, REPO))[0].split(os.sep)
    return ".".join(rel[:-1] if rel[-1] == "__init__" else rel)


def _imports(path: str) -> set[str]:
    """Absolute names of every module ``path`` imports; for ``from X import
    y`` both X and X.y, since y may be a submodule."""
    mod = _module_name(path)
    package = mod if path.endswith("__init__.py") else mod.rpartition(".")[0]
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            src = node.module
            if node.level:
                base = package.rsplit(".", node.level - 1)[0]
                src = f"{base}.{src}" if src else base
            out.add(src)
            out.update(f"{src}.{a.name}" for a in node.names)
    return out


def _sources() -> list[str]:
    skip = {os.path.join(REPO, PKG, "contract"), os.path.join(REPO, PKG, "entrypoints.py")}
    out = []
    for top in (PKG, "jobs"):
        for root, dirs, files in os.walk(os.path.join(REPO, top)):
            dirs[:] = [d for d in dirs if os.path.join(root, d) not in skip]
            out += [
                os.path.join(root, fn)
                for fn in files
                if fn.endswith(".py") and os.path.join(root, fn) not in skip
            ]
    return out


def _is_harness(name: str) -> bool:
    return any(name == h or name.startswith(h + ".") for h in HARNESS)


def test_engine_and_jobs_do_not_import_the_contract():
    sources = _sources()
    assert any(p.endswith(os.path.join("operators", "quadtree.py")) for p in sources)
    assert any(p.endswith(os.path.join("jobs", "run_pipeline.py")) for p in sources)
    offenders = {
        os.path.relpath(p, REPO): sorted(n for n in _imports(p) if _is_harness(n))
        for p in sources
    }
    assert not {p: n for p, n in offenders.items() if n}


def test_import_scan_resolves_relative_imports():
    """The scan sees the harness's own imports, relative ones included, so
    an empty offender list above is not a blind spot."""
    got = _imports(os.path.join(REPO, PKG, "entrypoints.py"))
    assert f"{PKG}.contract.queries" in got
    assert f"{PKG}.contract.fixtures" in got
    assert f"{PKG}.operators.quadtree" in got
    got = _imports(os.path.join(REPO, PKG, "contract", "queries.py"))
    assert f"{PKG}.contract.fixtures" in got
    assert f"{PKG}.operators.dedup" in got
