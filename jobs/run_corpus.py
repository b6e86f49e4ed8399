#!/usr/bin/env python
"""spark-submit entry point for the training-data curation pipeline.

    python tools/build_pyfiles.py                 # -> dist/geospatial_cuda_spark.zip
    spark-submit --master <cluster> \
        --py-files dist/geospatial_cuda_spark.zip \
        jobs/run_corpus.py --docs <parquet> --out <snapshot-table> \
        [--dedup exact|simhash] [--quality 0.8] [--max-hamming 1] [--buckets 32]

Pipeline (the corpus_select / corpus_select_neardup composition as a
shipping job):

1. exact dedup — one md5-groupBy, keep the min-id representative per
   normalized-text fingerprint;
2. (``--dedup simhash``) near-dup CLUSTER dedup on the survivors: simhash
   → banded pair join (pigeonhole-complete at the hamming threshold) →
   distributed connected components (pointer-jumping min-label) → keep
   each component's min-id representative;
3. quality gate (length / alpha-ratio / tokens-per-char Column scoring);
4. snapshot commit bucketed by a hash of doc_id, with per-bucket lineage
   + row-count/throughput metrics.

The commit log is SnapshotTable's one file store under ``<out>/_manifest/``
(no hard links or renames, so ``--out`` may be a mounted object store);
every reader that opens the table by path sees it. An ``--out`` in the
retired hard-link format (``v{N}.json``) raises ``SnapshotCorruptError``
rather than being rewritten as a new table.

Resumable: re-running with the same --out continues from the last
committed snapshot (only uncommitted buckets are written; a completed run
is a no-op — SnapshotTable's idempotent commit). Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/run_corpus.py` convenience; under spark-submit the
# package arrives via --py-files and this insert is a harmless no-op
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", required=True, help="parquet path of the documents table")
    ap.add_argument("--out", required=True, help="snapshot table output path")
    ap.add_argument("--dedup", choices=("exact", "simhash"), default="simhash")
    ap.add_argument("--quality", type=float, default=0.8)
    ap.add_argument("--max-hamming", type=int, default=1,
                    help="simhash hamming threshold; must be < 4 (the "
                    "4-band pigeonhole blocking is only COMPLETE below the "
                    "band count — beyond it pairs would be silently lost)")
    ap.add_argument("--buckets", type=int, default=32)
    args = ap.parse_args()
    if not 0 <= args.max_hamming < 4:
        ap.error("--max-hamming must be in [0, 3]: near_dup_simhash's "
                 "4-band blocking guarantees completeness only for "
                 "hamming < 4")

    from pyspark.sql import SparkSession, functions as F

    from geospatial_cuda_spark.functions import text as TXT
    from geospatial_cuda_spark.operators import dedup as D
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    spark = SparkSession.builder.appName("geospatial-cuda-spark-corpus").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    docs = spark.read.parquet(args.docs)
    n_in = docs.count()

    keep = D.exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    docs = docs.join(keep, on="doc_id", how="left_semi")

    if args.dedup == "simhash":
        pairs = D.near_dup_simhash(docs, max_hamming=args.max_hamming).select("a", "b")
        comps = D.connected_components(pairs)
        drop = comps.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_id")
        )
        docs = docs.join(drop, on="doc_id", how="left_anti")

    scored = docs.select(
        "doc_id",
        F.col("text"),
        TXT.quality_score_col(F.col("text")).alias("quality"),
        TXT.token_count_col(F.col("text")).cast("long").alias("n_tok"),
    ).where(F.col("quality") >= args.quality)
    scored = scored.withColumn(
        "bucket", F.pmod(F.col("doc_id"), F.lit(args.buckets)).cast("string")
    )

    result = SnapshotTable(args.out).commit(scored, "bucket")
    wall = time.time() - t0
    m = result["snapshot"]["metrics"] if result["snapshot"] else {}
    print(
        json.dumps(
            {
                "docs_in": n_in,
                "docs_kept": int(sum(result["snapshot"]["buckets"].values()))
                if result["snapshot"]
                else 0,
                "written_buckets": result["written_buckets"],
                "wall_sec": round(wall, 3),
                "snapshot_metrics": m,
                "resumed_noop": result["written_buckets"] == 0,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
