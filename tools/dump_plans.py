"""Dump physical plans of the headline operators to PLANS.md.

The scale claims in SURVEY.md §4 are checkable: this script materializes
`.explain(formatted)` for each headline query at sf0.1 and prefixes each plan
with the properties it must exhibit (pushed filters, pruned read schemas,
broadcast vs shuffle join choice, whole-stage-codegen spans, AQE nodes).
Re-run after any operator change: `python tools/dump_plans.py`. PLANS.md
is written on demand and not tracked; the plan-marker policy it applies is
`geospatial_cuda_spark.planaudit.plan_problems`, which
tests/test_plan_invariants.py gates on every run.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# (query name, properties the plan must show, substrings that MUST appear)
AUDIT = [
    (
        "quadrant_counts",
        "Scan reads ONLY l_orderkey/l_linenumber/l_partkey/l_suppkey (no other "
        "lineitem columns — ReadSchema pruned); cell id is pure codegen (no "
        "BatchEvalPython/ArrowEvalPython node); two-phase HashAggregate "
        "(partial before the exchange, final after).",
        ["HashAggregate", "ReadSchema"],
    ),
    (
        "quadrant_search",
        "Candidate generation is the float32-faithful Arrow kernel over the "
        "tiny query side (~300 B per query across the boundary; the deleted "
        "codegen chain rendering paid a Janino compile per fresh plan — r6 A/B "
        "0.88 s vs 0.21 s per invocation); the exploded candidates are "
        "left-joined to the cells (the planner broadcasts them at this "
        "scale); one two-phase aggregate on qid takes the max and carries "
        "each query row through — no dedup exchange and no join back.",
        ["HashAggregate", "AdaptiveSparkPlan", "ArrowEvalPython"],
    ),
    (
        "quadrant_search_broadcast",
        "Reference-shaped plan: BroadcastNestedLoopJoin with the containment "
        "predicate — the ONLY intentional nested-loop in the engine (cells "
        "side is tiny and explicitly broadcast).",
        ["BroadcastNestedLoopJoin"],
    ),
    (
        "knn",
        "Two-phase top-k: ArrowEvalPython/mapInPandas partial top-k over the "
        "points scan (reads pid/x/y only), then a Window over Q·k·batches "
        "rows — NO N·Q cross join, NO wide exchange.",
        ["MapInPandas", "Window"],
    ),
    (
        "distance_join",
        "Radius join (ST_DWithin): the POINTS side must reach the join with "
        "NO exchange (one Project computes its blocking key in codegen "
        "straight off the scan); the exploded query bbox-rectangle is the "
        "BroadcastExchange side of a BroadcastHashJoin on the key; the exact "
        "dist2 <= r^2 filter is JVM arithmetic (no Python eval nodes); "
        "customer pushdown (c_custkey <= 50) reaches the parquet scan.",
        ["BroadcastHashJoin", "PushedFilters"],
    ),
    (
        "knn_cells",
        "Exact kNN in two bounded passes of one lazy plan over the plain "
        "double points (no persist, no checkpoint, no Python eval): every "
        "point gets one grid key in codegen; the bound pass broadcast-joins the queries' ring bins to "
        "the points and takes the k-th ring distance per query in one "
        "HashAggregate; the exact pass broadcast-joins the bins of each "
        "query's bound box to the points, keeps dist2 <= bound and ranks "
        "with ONE Window over the qid exchange — never an N·Q cross product.",
        ["BroadcastHashJoin", "HashAggregate", "Window"],
    ),
    (
        "cell_rollup",
        "Rollup along the quadkey hierarchy: partial aggregation before each "
        "exchange; ancestor arithmetic in codegen.",
        ["HashAggregate"],
    ),
    (
        "cells_bbox_join",
        "Leaf cells × query rects range join: explicit broadcast of the rect "
        "side (BroadcastNestedLoopJoin on the overlap predicate).",
        ["BroadcastNestedLoopJoin"],
    ),
    (
        "ann_topk",
        "Cosine scoring via the ONE shared Arrow pair kernel "
        "(pair_cosine_rounded: vectorized batch scoring + DuckDB-exact "
        "half-away rounding — r4 replaced the interpreted zip_with/aggregate "
        "fold); broadcast of the query vectors (the BroadcastNestedLoopJoin "
        "is the intentional corpus × queries scoring product — brute force "
        "by definition; ann_ivf is the pruned path).",
        ["ArrowEvalPython", "Window"],
    ),
    (
        "ann_ivf",
        "IVF probe: bucket assignment is one ArrowEvalPython matmul per "
        "batch; probes join buckets on an EQUI key (n_probe·√N candidate "
        "rows, never the full corpus per query); JVM cosine + Window top-k.",
        ["ArrowEvalPython", "Window"],
    ),
    (
        "exact_dedup",
        "Hash-groupBy dedup: md5 fingerprint in codegen, two-phase aggregate.",
        ["md5", "HashAggregate"],
    ),
    (
        "minhash_buckets",
        "MinHash-LSH: shingle explode + distinct, min-hash aggregation per "
        "doc (SortAggregate — min over md5 strings), band keys via md5; the "
        "only exchanges are the distinct and groupBy shuffles "
        "(shuffle-partitioned, no all-pairs anywhere).",
        ["Aggregate", "md5"],
    ),
    (
        "simhash_neardup",
        "SimHash near-dup: banded self-join is an EQUI-join on (band, key) "
        "— pigeonhole blocking, provably complete for hamming ≤ max; no "
        "cartesian/nested-loop node anywhere.",
        ["HashAggregate"],
    ),
    (
        "quality_quantiles",
        "Exact sort-free order statistics: the bounded histogram pass runs "
        "eagerly at construction (collect of ≤ bins rows); this audited plan "
        "is the boundary-bin selection — a Window row_number over ONLY the "
        "boundary bins joined to the tiny preserved targets relation; NO "
        "rangepartitioning exchange anywhere (nothing globally sorts).",
        ["Window"],
    ),
    (
        "snapshot_rollback",
        "Rollback protocol query (eager, file-I/O by design like "
        "snapshot_lineage): commits two generations, rolls back, commits a "
        "third; audited plan is the final manifest-pinned read + two-phase "
        "per-generation aggregate.",
        ["HashAggregate"],
    ),
    (
        "decontaminate",
        "Benchmark decontamination: corpus shingled by array_distinct+explode "
        "in the SCAN stage (no relational distinct, so no corpus Exchange "
        "before the join); benchmark shingles hash-BROADCAST; only matched "
        "pairs reach the two-phase overlap count.",
        ["BroadcastHashJoin", "HashAggregate"],
    ),
    (
        "image_neardup_phash",
        "Perceptual-hash image near-dup: decode/resize/phash run as "
        "Arrow-batched MapInPandas stages INSIDE the eager localCheckpoint "
        "(so this audited plan starts from the checkpointed hash relation — "
        "Scan ExistingRDD); the banded Hamming self-join is an EQUI-join on "
        "(band, key) — pigeonhole blocking, complete for hamming ≤ bands-1; "
        "no cartesian node.",
        ["BroadcastHashJoin", "ExistingRDD"],
    ),
    (
        "embedding_neardup",
        "Label-blocked cosine pairs: EQUI self-join on the block key; "
        "cosine via higher-order functions (JVM).",
        ["Join"],
    ),
    (
        "embedding_neardup_lsh",
        "Unlabeled LSH near-dup (r6 shape): ONE scan computes all band keys "
        "(Arrow kernel + explode); each (band, key) bucket is scored "
        "all-pairs INSIDE one cogrouped Arrow kernel "
        "(FlatMapGroupsInPandas) with the identical left-assoc float64 "
        "summation as the SQL oracle, emitting only above-threshold pairs — "
        "no pair self-join, no vector-attach joins, no candidate rows "
        "across the Python boundary; a final distinct dedups cross-band "
        "hits. No label column, no hot-key cartesian.",
        ["Generate", "FlatMapGroupsInPandas", "HashAggregate"],
    ),
    (
        "tile_slice_geometry",
        "Raster→vector slicing: UNION of a pure-JVM pass-through branch "
        "(single-tile images — ~98% of rows and payload bytes never cross "
        "into Python; codegen floor-arithmetic twin of the kernel's "
        "footprint test) and a MapInPandas branch that pixel-slices only "
        "the tile-straddlers.",
        ["Union", "MapInPandas"],
    ),
    (
        "image_features",
        "Decode→resize→sum pipeline: a single MapInPandas over the Arrow "
        "batches of the image payload scan — no per-row Python, no shuffle "
        "at all (embarrassingly parallel).",
        ["MapInPandas"],
    ),
    (
        "cluster_layout",
        "Clustered-layout stats: exchange on the salted prefix key, hot-key "
        "detection via broadcast join, per-prefix aggregation. (The "
        "in-partition SORT lives in the write path — write_clustered — whose "
        "pruning payoff is measured in the X7 section below.)",
        ["Exchange", "HashAggregate"],
    ),
    (
        "point_lookup",
        "Exact point match (P3/J2): equality semi-join of the probe set "
        "against the points scan — the probe side is tiny (broadcast), the "
        "scan reads only the join/projection columns (ReadSchema pruned); "
        "no Python eval anywhere.",
        ["Join", "ReadSchema"],
    ),
    (
        "range_filter",
        "Rect containment (P2): ONE scan of the points with the literal "
        "query boxes exploded against it — the containment predicate is "
        "pure codegen arithmetic, aggregated per box; no per-box rescan, no "
        "nested loop.",
        ["HashAggregate", "ReadSchema"],
    ),
    (
        "tile_pyramid",
        "Multi-zoom tile rollup: finest-zoom assignment in codegen, then "
        "ancestor explode + ONE two-phase HashAggregate across all zoom "
        "levels — one exchange for the whole pyramid, not one per level.",
        ["Generate", "HashAggregate"],
    ),
    (
        "mutation_cells",
        "Incremental insert/delete (M1/M2): insert-if-missing and delete "
        "are anti-joins (no full rescan of the surviving points); the count "
        "delta of the touched finest cells rolls up the prefix chain and "
        "full-outer-merges into the old counts — cells-only work, partial "
        "aggregation before every exchange. The entry is lazy and persists "
        "nothing, so the audited plan is the whole composition.",
        ["HashAggregate", "Join"],
    ),
    (
        "event_window_tiles",
        "Watermarked sliding-window tile aggregation (batch twin of the "
        "streaming query): window assignment + tile arithmetic in codegen, "
        "two-phase HashAggregate on (window, tile); no Python eval.",
        ["HashAggregate"],
    ),
    (
        "pip_polygon_join",
        "Polygon-RELATION PIP: per-polygon bbox, edge array and grid-bin "
        "explode on the polygon side, the engine's one grid blocking join "
        "(search._box_join, shared with distance_join and knn_cells) on the "
        "packed bin key with the exploded polygons broadcast "
        "(BroadcastHashJoin; no nested loop, no polygon closure), then the "
        "exact bbox prune and the ray cast (aggregate/exists over the edge "
        "array) as the join condition — no Python node.",
        ["BroadcastHashJoin", "HashAggregate", "ReadSchema"],
    ),
    (
        "pip_polygon_holes",
        "Multi-ring PIP: the same plan as pip_polygon_join; the only "
        "additions are array_min(flatten(..)) bboxes over the ring-nested "
        "columns and an edge array flattened over the rings — no extra "
        "shuffle, no Python node.",
        ["BroadcastHashJoin", "HashAggregate", "ReadSchema"],
    ),
    (
        "winnow_neardup",
        "Local-fingerprint near-dup pairs (r4): winnow selection is a "
        "window pass partitioned by doc; the document-frequency boilerplate "
        "filter is a semi-join (the skew cap), the pair step an equi-join "
        "on fingerprint + two-phase HashAggregate — no all-pairs, no "
        "Python beyond the window's codegen.",
        ["HashAggregate", "Join", "ReadSchema"],
    ),
    (
        "cell_cardinality_kmv",
        "KMV cardinality sketch (r4): cell encode in codegen, ONE distinct "
        "shuffle of the cell-hash relation, TakeOrdered of k=256 rows, two "
        "single-row aggregates cross-combined (the only nested loop — both "
        "sides are exactly one row).",
        ["TakeOrderedAndProject", "HashAggregate"],
    ),
    (
        "snapshot_prune",
        "Manifest file skipping (r5/r6): the PRUNING decision is driver-side "
        "from the manifest's per-file [min,max] stats — the scan node lists "
        "ONLY surviving files (no listing job, no footer open at plan time); "
        "the same range predicates are ALSO pushed to the parquet reader "
        "(PushedFilters: x/y bounds) for row-group skipping inside survivors; "
        "each bbox aggregate is a two-phase HashAggregate. (The commit itself "
        "runs eagerly at query construction; the audited plan is the "
        "three-box pruned-read union.)",
        ["PushedFilters", "HashAggregate"],
    ),
    (
        "corpus_mix",
        "Cluster-balanced mixing (r5/r6): the scored+clustered selection is "
        "materialized ONCE (eager localCheckpoint — the plan reads "
        "ExistingRDD, not a re-derivation of the dedup+scoring pipeline, "
        "which r5 evaluated three times); the cumulative budget window runs "
        "over the tiny (cluster × quality-bin) HISTOGRAM partitioned by "
        "cluster (never a row-level sort), and the full-bin/boundary-bin "
        "joins back are explicit broadcasts.",
        ["ExistingRDD", "Window", "BroadcastHashJoin"],
    ),
    (
        "doc_clusters",
        "Semantic clustering rollup (r5): centroid assignment is ONE Arrow "
        "pass over the corpus scan (ArrowEvalPython — the float64 "
        "sequential-accumulation kernel the oracle replays; no candidate "
        "join, no shuffle before assignment), then a two-phase HashAggregate "
        "on the 16 cluster keys; the scan reads only (vec_id, embedding).",
        ["ArrowEvalPython", "HashAggregate", "ReadSchema"],
    ),
    (
        "snapshot_lineage",
        "S3 sink lineage + merge-on-read read-back (r5/r6): the committed "
        "base+delta read loads EXACTLY the manifest's file set (scan paths "
        "are the manifest files; no directory listing); the merged per-bucket "
        "aggregate is a two-phase HashAggregate and the 8-row driver-side "
        "lineage relation joins it via a broadcast — the big side never "
        "shuffles for the join. (Commits run eagerly at construction; the "
        "audited plan is the lineage join.)",
        ["HashAggregate", "BroadcastHashJoin", "AdaptiveSparkPlan"],
    ),
]

HEADER = """# PLANS — physical-plan audit of the headline operators

Generated by `python tools/dump_plans.py` at {sf}. Each section states the
scale-relevant properties the plan must exhibit, then the actual
`explain(formatted)` output. Greppable invariants:

- `PushedFilters` / `ReadSchema`: scans are pruned to the referenced columns;
- `BatchEvalPython` must never appear (row-at-a-time Python);
  `ArrowEvalPython` / `MapInPandas` only where the operator is genuinely
  non-relational (search candidates, the counts rollup past depth 13,
  pixel kernels, partial top-k) — never in the cell encode or bbox, which
  run in the JVM at every depth;
- join strategy: broadcast for small dims, shuffled hash/sort-merge for
  big-big, BroadcastNestedLoopJoin only where `planaudit.BNLJ_ALLOWED`
  allows it (the broadcast range joins and bounded single-row products);
- `WholeStageCodegen` spans cover the arithmetic-heavy projections;
- `AdaptiveSparkPlan` wraps every query (AQE re-plan + skew handling on).
"""


def main() -> None:
    import __spark_entry__ as E
    from geospatial_cuda_spark.planaudit import plan_problems
    from geospatial_cuda_spark.session import get_spark

    spark = get_spark(
        "plans",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    sections = [HEADER.format(sf=SF_DIR)]
    problems = []
    for name, props, expects in AUDIT:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        problems += plan_problems(name, plan)
        for marker in expects:
            if marker not in plan:
                problems.append(f"{name}: expected plan marker missing: {marker}")
        sections.append(f"## {name}\n\n**Must show:** {props}\n\n```\n{plan}```\n")

    sections.append(_x7_pruning_section(spark))

    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(sections))
    print(f"wrote {out} ({len(AUDIT) + 1} sections)")
    for p in problems:
        print("PROBLEM:", p)
    if problems:
        sys.exit(1)
    spark.stop()


def _x7_pruning_section(spark) -> str:
    """X7 (clustered slicing) demonstrated with scan metrics: write the
    cell-clustered layout, read back one depth-2 subtree, and show (a)
    PartitionFilters in the scan node, (b) files actually read < files total
    — the relational assign_points slice (cuda/kernels.cu:494-515)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from geospatial_cuda_spark.contract.fixtures import LX, LY, LPID
    from geospatial_cuda_spark.operators import cluster as CL
    from geospatial_cuda_spark.operators.quadtree import with_cell_id

    pts = with_cell_id(
        spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).selectExpr(
            f"{LPID} AS pid", f"CAST({LX} AS DOUBLE) AS x", f"CAST({LY} AS DOUBLE) AS y"
        ),
        18,
    )
    tmp = tempfile.mkdtemp(prefix="x7_")
    try:
        from geospatial_cuda_spark.planaudit import scan_metrics

        CL.write_clustered(pts, tmp, prefix_depth=2, max_depth=18, num_partitions=16)
        full = spark.read.parquet(tmp)
        total_files = len(full.inputFiles())
        n_parts = full.select("cell_prefix").distinct().count()
        prefix = full.select("cell_prefix").orderBy("cell_prefix").first()[0]
        sliced = full.where(F.col("cell_prefix") == prefix)
        sliced.collect()  # metrics live on THIS DataFrame's executed plan
        (scan,) = scan_metrics(sliced)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            sliced.explain("formatted")
        plan = buf.getvalue()
        verdict = (
            f"executed-plan scan metrics: numPartitions = {scan['numPartitions']} "
            f"of {n_parts} partition dirs, numFiles = {scan['numFiles']} of "
            f"{total_files} files on disk, numOutputRows = {scan['numOutputRows']}; "
            f"PartitionFilters present: {'PartitionFilters' in plan}"
        )
        return (
            "## X7: clustered-slicing scan pruning\n\n"
            "**Must show:** reading one quadkey subtree from the clustered "
            "layout touches only that subtree's partition files (directory "
            "partition pruning) and pushes the cell_id range into the "
            f"row-group stats of the sorted files.\n\n**Measured:** {verdict}"
            f"\n\n```\n{plan}```\n"
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
