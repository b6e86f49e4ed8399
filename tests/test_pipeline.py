"""The flagship pipeline is defined once, in
``geospatial_cuda_spark.pipeline``. It is pinned here to the benchmark's
ingest operation (``perfbench/workloads.py`` ``Ingest._pipeline``, the
benchmark's own traced copy): on the same seeded images both count the
same images, locate the same queries and commit the same rows into the
same buckets."""

from __future__ import annotations

import importlib.util
import os

from pyspark.sql import functions as F

from geospatial_cuda_spark.operators import search as S
from geospatial_cuda_spark.pipeline import run_images_pipeline
from geospatial_cuda_spark.sources.snapshots import SnapshotTable

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _perfbench(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(REPO, "perfbench", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _table(spark, path: str):
    rows = SnapshotTable(path).read(spark).toPandas()
    keys = sorted(c for c in rows.columns if c not in ("bytes", "caption"))
    return rows[sorted(rows.columns)].sort_values(keys, ignore_index=True)


def test_pipeline_matches_perfbench_ingest(spark, tmp_path):
    W = _perfbench("workloads")
    ingest = W.Ingest(_perfbench("spans").Tracer(enabled=False), str(tmp_path), 5, "tiny")
    ingest.setup(spark, 0)
    images = ingest.images()

    cells, found, bench_out, bench_n = ingest._pipeline(images, "check", keep=True)
    bench_located = found.where(F.col(S.RESULT_COL) >= 0).count()
    cells.unpersist()

    out = str(tmp_path / "lib")
    run = run_images_pipeline(images, out)

    assert run["n_images"] == bench_n == ingest.size["images"]
    assert run["n_located"] == bench_located > 0
    want = SnapshotTable(bench_out).current()["buckets"]
    assert run["commit"]["snapshot"]["buckets"] == want
    assert len(want) == W.TILE_BUCKETS
    got, ref = _table(spark, out), _table(spark, bench_out)
    assert len(got) == sum(want.values()) and got.equals(ref)
