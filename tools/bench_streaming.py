#!/usr/bin/env python
"""Streaming upsert benchmark: merge-on-read write cost per micro-batch.

    python tools/bench_streaming.py [--rows 200000] [--batches 20] [--batch-size 100]
                                    [--compact-threshold 8]

Builds a snapshot table whose hot bucket holds ``--rows`` points, then
applies ``--batches`` micro-batches of ``--batch-size`` mutations
(insert-if-missing + delete-by-value, all hitting the hot bucket) through
``SnapshotTable.append_deltas`` (the PointTableStream path): per-batch bytes
∝ batch size; readers fold deltas; every ``--compact-threshold`` batches
the bucket compacts.

The end state is checked against the eager fold
``delete_points(insert_points(state, inserts), deletes)`` applied batch by
batch to a plain DataFrame (no table write): row count and content hash
must match. Prints ONE JSON line with per-batch wall, bytes written per
batch, the compaction count and the check; exits 1 if the states differ.
``BENCH/STREAMING.md`` records the merge-on-read vs copy-on-write result
this tool measured when both write paths existed."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--batch-size", type=int, default=100)
    ap.add_argument("--compact-threshold", type=int, default=8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from geospatial_cuda_spark.operators import mutations as M
    from geospatial_cuda_spark.session import get_spark
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))
    spark = get_spark("bench-streaming", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")

    # base table: all rows in ONE hot bucket (a copy-on-write upsert would
    # rewrite all of it per batch)
    base = spark.range(args.rows).select(
        F.col("id").alias("pid"),
        (F.col("id") % 1000).cast("double").alias("x"),
        (F.col("id") / 1000).cast("double").alias("y"),
        F.lit("hot").alias("bucket"),
    )

    def mutation_batch(i: int):
        # one insert (new key) + deletes of existing keys per batch
        ins = [(10_000_000 + i * args.batch_size + j,
                float(2000 + i), float(3000 + i * args.batch_size + j), "hot", "i")
               for j in range(args.batch_size // 2)]
        dels = [(0, float((i * args.batch_size + j) % 1000),
                 float((i * args.batch_size + j) // 1000), "hot", "d")
                for j in range(args.batch_size - len(ins))]
        return spark.createDataFrame(
            ins + dels, "pid long, x double, y double, bucket string, _op string"
        )

    def summary(df) -> dict:
        r = df.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("pid", "x", "y").cast("long")).alias("h"),
        ).first()
        return {"rows_final": int(r["n"]), "state_hash": int(r["h"])}

    path = tempfile.mkdtemp(prefix="bench_streaming-")
    try:
        snap = SnapshotTable(path)
        snap.commit(base, "bucket")
        base_bytes = dir_bytes(path)
        eager = base
        walls, batch_bytes, compactions = [], [], 0
        for i in range(args.batches):
            b = mutation_batch(i)
            before = dir_bytes(path)
            t0 = time.time()
            res = snap.append_deltas(
                b, "bucket", ["hot"], key_cols=["x", "y"],
                compact_threshold=args.compact_threshold,
            )
            walls.append(time.time() - t0)
            batch_bytes.append(dir_bytes(path) - before)
            compactions += len(res["compacted_buckets"])
            ins = b.where(F.col("_op") == "i").select("pid", "x", "y", "bucket")
            dels = b.where(F.col("_op") == "d").select("x", "y")
            # the checkpoint cuts the lineage: each fold step reads its input
            # twice, so the uncut plan doubles per batch
            eager = M.delete_points(M.insert_points(eager, ins), dels).localCheckpoint()
        mor = summary(snap.read(spark).select("pid", "x", "y"))
        fold = summary(eager)
    finally:
        shutil.rmtree(path, ignore_errors=True)

    out = {
        "rows": args.rows,
        "batches": args.batches,
        "batch_size": args.batch_size,
        "compact_threshold": args.compact_threshold,
        "mor": {
            "base_bytes": base_bytes,
            "mean_batch_sec": round(sum(walls) / len(walls), 3),
            "mean_batch_bytes": int(sum(batch_bytes) / len(batch_bytes)),
            "max_batch_bytes": max(batch_bytes),
            "compactions": compactions,
            **mor,
        },
        "eager_fold": fold,
        "end_state_equal": mor == fold,
    }
    print(json.dumps(out))
    spark.stop()
    return 0 if out["end_state_equal"] else 1


if __name__ == "__main__":
    sys.exit(main())
