#!/usr/bin/env python
"""Package geospatial_cuda_spark as a --py-files zip for spark-submit.

    python tools/build_pyfiles.py [dist/geospatial_cuda_spark.zip]

The zip contains only the package sources (no tests, no caches), rooted so
that `import geospatial_cuda_spark` works on executors when the zip is on
the PYTHONPATH — the shape spark-submit --py-files expects. The zip is a
build output (``dist/`` is not tracked): build it before submitting.
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "geospatial_cuda_spark"


def build(out_path: str) -> str:
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as z:
        for root, dirs, files in os.walk(os.path.join(REPO, PKG)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, REPO))
    return out_path


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "dist", f"{PKG}.zip")
    print(build(out))
