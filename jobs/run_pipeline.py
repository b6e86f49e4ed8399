#!/usr/bin/env python
"""spark-submit entry point for the flagship north-rule pipeline.

Cluster usage (the shipping shape per BASELINE.json north_rule):

    python tools/build_pyfiles.py                 # -> dist/geospatial_cuda_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/geospatial_cuda_spark.zip \
        jobs/run_pipeline.py --images <path> --out <path> [--zoom 8] [--depth 12]

Sandbox / scaling-evidence usage (no real cluster — BASELINE.md protocol):

    spark-submit --master local[8]  --py-files dist/geospatial_cuda_spark.zip \
        jobs/run_pipeline.py --synth 200000 --out /tmp/out8
    spark-submit --master local[32] --py-files dist/geospatial_cuda_spark.zip \
        jobs/run_pipeline.py --synth 200000 --out /tmp/out32

Pipeline (end-to-end, matching bench.py's timed section): scan → geotag →
adaptive quadtree build → quadrant-search join → web-mercator tile slicing →
snapshot commit with per-partition lineage + metrics. Resumable: re-running
with the same --out continues from the last committed snapshot (only
uncommitted buckets are written).

Prints ONE JSON line with images/sec and the committed snapshot metrics.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--images", help="parquet path of the image+caption table")
    src.add_argument("--synth", type=int, help="synthesize N deterministic images")
    ap.add_argument("--out", required=True, help="snapshot table output path")
    ap.add_argument("--zoom", type=int, default=8, help="web-mercator tile zoom")
    ap.add_argument("--depth", type=int, default=12, help="quadtree max depth")
    ap.add_argument("--query-mod", type=int, default=97,
                    help="phash %% MOD == 0 selects the query sample")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    from geospatial_cuda_spark.datagen import images_table, with_geotag
    from geospatial_cuda_spark.operators import quadtree as QT
    from geospatial_cuda_spark.operators import search as S
    from geospatial_cuda_spark.operators import tiles as T
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    spark = SparkSession.builder.appName("geospatial-cuda-spark-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    if args.images:
        images = spark.read.parquet(args.images)
    else:
        images = images_table(spark, args.synth)
    images = with_geotag(images)

    cells = QT.build_cells(images, max_depth=args.depth).persist()
    # the root row's count is the image count: one job that also fills the
    # persisted cells, instead of a separate scan of the images
    n_images = int(
        cells.agg(
            F.sum(F.when(F.col("depth") == 0, F.col("count")).otherwise(F.lit(0)))
        ).first()[0]
        or 0
    )

    queries = images.where(F.col("phash") % args.query_mod == 0).select(
        F.col("phash").alias("qid"), "x", "y"
    )
    found = S.quadrant_search_prefix(queries, cells, max_depth=args.depth)
    n_located = found.where(F.col(S.RESULT_COL) >= 0).count()

    slices = T.slice_tiles(images, zoom=args.zoom).withColumn(
        "bucket", F.pmod(F.col("tile_x"), F.lit(32))
    )
    snap = SnapshotTable(args.out)
    result = snap.commit(slices, "bucket")
    wall = time.time() - t0

    print(json.dumps({
        "metric": "spatial-join + tile-assignment throughput (images/sec)",
        "value": round(n_images / wall, 1),
        "unit": "images/sec",
        "n_images": n_images,
        "n_located": n_located,
        "wall_sec": round(wall, 3),
        "snapshot": result["snapshot"]["metrics"] if result["snapshot"] else None,
        "resumed_noop": result["written_buckets"] == 0,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
