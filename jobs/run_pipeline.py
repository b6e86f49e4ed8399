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

Pipeline (``geospatial_cuda_spark.pipeline.run_images_pipeline``, the one
the bench times): scan → geotag → adaptive quadtree build → quadrant-search
join → web-mercator tile slicing → snapshot commit with per-partition
lineage + metrics. Resumable: re-running with the same --out continues
from the last committed snapshot (only uncommitted buckets are written).

Prints ONE JSON line with images/sec and the committed snapshot metrics.
"""

from __future__ import annotations

import argparse
import json
import sys


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

    from pyspark.sql import SparkSession

    from geospatial_cuda_spark.datagen import images_table, with_geotag
    from geospatial_cuda_spark.pipeline import run_images_pipeline

    spark = SparkSession.builder.appName("geospatial-cuda-spark-pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if args.images:
        images = spark.read.parquet(args.images)
    else:
        images = images_table(spark, args.synth)
    run = run_images_pipeline(
        with_geotag(images), args.out,
        depth=args.depth, zoom=args.zoom, query_mod=args.query_mod,
    )
    commit = run["commit"]

    print(json.dumps({
        "metric": "spatial-join + tile-assignment throughput (images/sec)",
        "value": round(run["n_images"] / run["wall_sec"], 1),
        "unit": "images/sec",
        "n_images": run["n_images"],
        "n_located": run["n_located"],
        "wall_sec": run["wall_sec"],
        "snapshot": commit["snapshot"]["metrics"] if commit["snapshot"] else None,
        "resumed_noop": commit["written_buckets"] == 0,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
