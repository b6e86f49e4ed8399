#!/usr/bin/env python
"""CLI twin of the reference's inference engine (cuda/inference.cu:20-170).

    spark-submit [--master ...] --py-files dist/geospatial_cuda_spark.zip \
        jobs/run_inference.py <points.txt> <max_size> \
        [--queries <file>] [--depth 12]

Same inputs as the reference binary: its whitespace-separated ``x y``
point file and the square domain size. Builds the adaptive quadtree
relation, validates it (the validate_grid pass re-expressed as the leaf
count-conservation invariant), then replays the query script — default:
the exact hardcoded s/i/d sequence of inference.cu:109-117 — printing the
same decisions: located quadrant id, search found/not-found, insert only
after a failed membership check (inference.cu:146-150), delete only when
present. Mutations refresh the cells relation INCREMENTALLY from count
deltas (operators/mutations.py — no points rescan), the engine's
production path.

A ``--queries`` file holds one ``s|i|d x y`` per line (the Query struct's
fields); malformed lines are skipped like the point reader's rule.
"""

from __future__ import annotations

import argparse
import sys

# the reference's built-in query script, verbatim (inference.cu:109-117)
REFERENCE_SCRIPT = [
    ("s", 637093.0, 90101.0),
    ("i", 9981.0, 9979.0),
    ("s", 9981.0, 9979.0),
    ("s", 100.0, 100.0),
    ("d", 9981.0, 9979.0),
    ("s", 9981.0, 9979.0),
]


def replay(spark, points, script, max_depth, domain, log=print):
    """Run the sequential query loop; returns [(qtype, quadrant_id, found)]
    per query, evaluated against the state each query observes (the
    reference mutates its index in place between queries)."""
    from pyspark.sql import functions as F

    from geospatial_cuda_spark.operators import mutations as M
    from geospatial_cuda_spark.operators import quadtree as QT
    from geospatial_cuda_spark.operators import search as S

    points = points.select("x", "y").persist()
    n = points.count()
    log(f"Generating grid for {n} points\n")
    counts = QT.counts_from_points(points, domain=domain, max_depth=max_depth).persist()
    cells = QT.cells_from_counts(counts, max_depth=max_depth, domain=domain)

    log("Validating grid...")
    v = QT.validate_cells(points, cells, domain=domain, max_depth=max_depth).first()
    ok = (
        v["leaf_count_sum"] == v["n_points"]
        and v["n_unclaimed"] == 0
        and v["n_multi_claimed"] == 0
        and v["n_count_mismatch"] == 0
    )
    log("Grid Verification Success!" if ok else f"Grid Verification Failure! {v}")

    out = []
    for qtype, qx, qy in script:
        qdf = spark.createDataFrame([(0, qx, qy)], "qid long, x float, y float")
        row = S.quadrant_search_prefix(
            qdf, cells, max_depth=max_depth, domain=domain
        ).first()
        quad = row[S.RESULT_COL]
        log(f"\nThe point to be searched ({qx:f}, {qy:f}) with a quadrant id: {quad}")
        key = qdf.select("x", "y")
        found = quad >= 0 and not points.join(key, on=["x", "y"], how="left_semi").isEmpty()
        log(f"The type of the query is: {qtype}")
        if qtype == "s":
            if found:
                log(f"Point found in quadrant with ID: {quad}")
            else:
                log("Point not found in the grid.")
        elif qtype == "i":
            log("Inserting a point")
            if found:
                log(f"Point already exists in quadrant with ID: {quad}")
            else:
                new_points = M.insert_points(points, key).persist()
                new_points.count()
                delta = M.counts_delta(key, +1, max_depth=max_depth, domain=domain)
                new_counts, cells = M.refresh_cells(
                    counts, delta, max_depth=max_depth, domain=domain
                )
                # the next mutation merges into these counts: cache them
                # before their parent is released
                new_counts = new_counts.persist()
                new_counts.count()
                points.unpersist()
                counts.unpersist()
                points, counts = new_points, new_counts
        elif qtype == "d":
            log("Deleting a point")
            if found:
                # every duplicate of the key is removed (reference intended
                # semantics) — the count delta carries the multiplicity
                doomed = points.join(key, on=["x", "y"], how="left_semi")
                delta = M.counts_delta(doomed, -1, max_depth=max_depth, domain=domain)
                new_points = M.delete_points(points, key).persist()
                new_points.count()
                new_counts, cells = M.refresh_cells(
                    counts, delta, max_depth=max_depth, domain=domain
                )
                # the next mutation merges into these counts: cache them
                # before their parent is released
                new_counts = new_counts.persist()
                new_counts.count()
                points.unpersist()
                counts.unpersist()
                points, counts = new_points, new_counts
            else:
                log("Point does not exist in the grid")
        out.append((qtype, int(quad), bool(found)))
    points.unpersist()
    counts.unpersist()
    return out


def parse_query_file(path: str):
    script = []
    with open(path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 3 and parts[0] in ("s", "i", "d"):
                try:
                    script.append((parts[0], float(parts[1]), float(parts[2])))
                except ValueError:
                    pass
    return script


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("points_file", help="reference-format 'x y' text file")
    ap.add_argument("max_size", type=float, help="square domain upper bound")
    ap.add_argument("--queries", help="file of `s|i|d x y` lines "
                    "(default: the reference's built-in script)")
    ap.add_argument("--depth", type=int, default=12, help="max quadtree depth")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from geospatial_cuda_spark.sources.points_txt import read_points_txt

    spark = SparkSession.builder.appName("geospatial-cuda-spark-inference").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    pts = read_points_txt(spark, args.points_file, with_pid=False)
    script = parse_query_file(args.queries) if args.queries else REFERENCE_SCRIPT
    replay(spark, pts, script, args.depth, (0.0, 0.0, args.max_size, args.max_size))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
