"""The flagship pipeline, defined once: geotagged images -> adaptive quadtree
build -> containing-quadrant search of a query sample -> web-mercator tile
slicing -> one snapshot commit.

``bench.py`` (warm-up and timed run) and the spark-submit job
``jobs/run_pipeline.py`` both call :func:`run_images_pipeline`;
``tests/test_pipeline.py`` pins it to the benchmark's ingest operation.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from .operators import quadtree as QT, search as S, tiles as T
from .sources.snapshots import SnapshotTable

# tiles commit into pmod(tile_x, TILE_BUCKETS) buckets
TILE_BUCKETS = 32


def run_images_pipeline(
    images: DataFrame, out: str, depth: int = 12, zoom: int = 8, query_mod: int = 97
) -> dict:
    """Run the pipeline over ``images`` (geotagged: ``x``, ``y``, ``phash``
    and the tile columns ``slice_tiles`` reads) and commit the tile slices
    to the snapshot table at ``out``. Re-running into the same ``out``
    resumes: only uncommitted buckets are written.

    The cells are persisted for the search and released before returning.
    The image count is the quadtree root's count, so it costs no extra scan:
    one aggregate both fills the persisted cells and returns it. The search
    locates the ``phash % query_mod == 0`` sample.

    Returns ``n_images``, ``n_located``, ``commit`` (``SnapshotTable.commit``'s
    result), ``wall_sec`` and per-stage seconds in ``stages``
    (``build_cells``, ``search``, ``slice_commit``)."""
    stages: dict[str, float] = {}
    t0 = time.time()
    cells = QT.build_cells(images, max_depth=depth).persist()
    try:
        root = F.when(F.col("depth") == 0, F.col("count")).otherwise(F.lit(0))
        n_images = int(cells.agg(F.sum(root)).first()[0] or 0)
        stages["build_cells"] = round(time.time() - t0, 3)

        t = time.time()
        queries = images.where(F.col("phash") % query_mod == 0).select(
            F.col("phash").alias("qid"), "x", "y"
        )
        found = S.quadrant_search_prefix(queries, cells, max_depth=depth)
        n_located = found.where(F.col(S.RESULT_COL) >= 0).count()
        stages["search"] = round(time.time() - t, 3)

        t = time.time()
        slices = T.slice_tiles(images, zoom=zoom).withColumn(
            "bucket", F.pmod(F.col("tile_x"), F.lit(TILE_BUCKETS))
        )
        commit = SnapshotTable(out).commit(slices, "bucket")
        stages["slice_commit"] = round(time.time() - t, 3)
        wall = time.time() - t0
    finally:
        cells.unpersist()
    return {
        "n_images": n_images,
        "n_located": n_located,
        "commit": commit,
        "wall_sec": round(wall, 3),
        "stages": stages,
    }
