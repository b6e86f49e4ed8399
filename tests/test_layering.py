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


HARNESS_PATHS = {os.path.join(REPO, PKG, "contract"), os.path.join(REPO, PKG, "entrypoints.py")}


def _sources(skip: set[str] = frozenset()) -> list[str]:
    """Every ``.py`` file of the package and of ``jobs/``, except the
    files and directories in ``skip``."""
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
    sources = _sources(HARNESS_PATHS)
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


def _manifest_store_names(path: str) -> set[str]:
    """Every ``*ManifestStore`` name ``path`` imports."""
    return {
        n.rpartition(".")[2] for n in _imports(path) if n.endswith("ManifestStore")
    }


def test_only_snapshots_names_a_manifest_store():
    """``SnapshotTable(path)`` builds the one file store itself, so no module
    of the package other than ``sources/snapshots.py``, and no spark-submit
    job, imports a ``*ManifestStore``: a second on-disk commit-log format
    cannot be picked by a caller."""
    owner = os.path.join(REPO, PKG, "sources", "snapshots.py")
    sources = _sources()
    assert owner in sources
    assert any(p.endswith(os.path.join("jobs", "run_corpus.py")) for p in sources)
    offenders = {
        os.path.relpath(p, REPO): sorted(_manifest_store_names(p))
        for p in sources
        if p != owner
    }
    assert not {p: n for p, n in offenders.items() if n}


LAYOUT_DIRS = ("data_dir", "delta_dir")


def _layout_uses(path: str) -> list[str]:
    """Lines of ``path`` that read a ``.data_dir``/``.delta_dir`` attribute
    or format a ``{col}=`` path segment (an f-string whose formatted value
    is followed by text starting with ``=``)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in LAYOUT_DIRS:
            out.append(f"{node.lineno}: .{node.attr}")
        elif isinstance(node, ast.JoinedStr):
            for a, b in zip(node.values, node.values[1:]):
                if (
                    isinstance(a, ast.FormattedValue)
                    and isinstance(b, ast.Constant)
                    and str(b.value).startswith("=")
                ):
                    out.append(f"{node.lineno}: {{...}}=")
    return out


def test_only_snapshots_knows_the_table_layout():
    """A snapshot table's files live at ``{root}/{bucket_col}={bucket}/{file}``
    and ``SnapshotTable`` alone turns a manifest into those paths. No other
    module of the package, and no spark-submit job, reads the table's data
    or delta directory or formats a ``{bucket_col}=`` path segment."""
    owner = os.path.join(REPO, PKG, "sources", "snapshots.py")
    sources = _sources()
    assert owner in sources and _layout_uses(owner)  # the scan sees the owner's uses
    offenders = {
        os.path.relpath(p, REPO): _layout_uses(p) for p in sources if p != owner
    }
    assert not {p: u for p, u in offenders.items() if u}
