"""The spark-submit --py-files artifact is built from the source tree at
submit or test time (`python tools/build_pyfiles.py`) and is not tracked,
so it cannot drift from the reviewed sources (ADVICE r2: a stale committed
zip shipped behavior that was not HEAD). This test pins what a fresh build
holds: exactly the package's Python sources, byte for byte."""

from __future__ import annotations

import importlib.util
import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "geospatial_cuda_spark"


def _sources() -> dict[str, bytes]:
    out = {}
    for root, dirs, files in os.walk(os.path.join(REPO, PKG)):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                with open(full, "rb") as f:
                    out[os.path.relpath(full, REPO)] = f.read()
    return out


def test_dist_zip_matches_source(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "build_pyfiles", os.path.join(REPO, "tools", "build_pyfiles.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    fresh = mod.build(str(tmp_path / "fresh.zip"))
    with zipfile.ZipFile(fresh) as z:
        got = {n: z.read(n) for n in z.namelist() if not n.endswith("/")}
    want = _sources()
    assert set(got) == set(want), (
        f"zip member set: only-in-zip={sorted(set(got) - set(want))}, "
        f"missing={sorted(set(want) - set(got))}"
    )
    assert f"{PKG}/pipeline.py" in got
    assert not sorted(n for n in want if got[n] != want[n])
