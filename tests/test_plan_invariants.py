"""CI gate for the physical-plan invariants.

The plan-marker policy lives in ``geospatial_cuda_spark.planaudit``
(``plan_problems``). tools/dump_plans.py applies it to the audited plans
at sf0.1 when it regenerates PLANS.md (written on demand, not tracked);
this test applies it to every LAZY contract query at sf0.001 on each
pytest run, so a regression that sneaks a row-at-a-time Python UDF, an
accidental cartesian product, or an unintended BroadcastNestedLoopJoin
into a plan fails CI — not just the next manual audit. Queries that
execute driver-side work at construction time (IVF centroid sampling,
brute-force query collect) are exercised by the oracle gate instead and
skipped here.
"""

from __future__ import annotations

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"

# construction already runs jobs (collect/checkpoint/commit) — not explain-only
EAGER = {
    "knn",
    "ann_ivf",
    "ann_topk",
    "doc_clusters",
    "corpus_mix",
    "embedding_neardup_lsh",
    "snapshot_lineage",
    "snapshot_prune",
    "snapshot_incremental",
    "snapshot_evolution",
    "snapshot_stream",
    "snapshot_rollback",
    "quality_quantiles",  # histogram pass collects the bounded bin counts
    "stream_dedup",
    "image_neardup_phash",  # hamming_pairs eager-localCheckpoints the hashes
    "neardup_components",
    "corpus_select_neardup",
}


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_no_forbidden_plan_nodes_in_any_lazy_query(spark):
    import __spark_entry__ as E

    from geospatial_cuda_spark.planaudit import plan_problems

    problems = []
    for name, fn in E.queries().items():
        if name in EAGER:
            continue
        problems += plan_problems(name, _plan(fn(spark, SF)))
    assert not problems, problems


def test_scan_pruning_reaches_parquet(spark):
    """Column pruning must reach the scan: the quadrant-counts plan reads
    only the 4 lineitem key columns its point derivation uses, and the
    token-counts plan only (doc_id, text)."""
    import __spark_entry__ as E

    qs = E.queries()
    plan = _plan(qs["quadrant_counts"](spark, SF))
    scan = [l for l in plan.splitlines() if "ReadSchema" in l and "lineitem" not in l]
    assert scan, plan
    line = scan[0]
    assert "l_orderkey" in line and "l_partkey" in line
    assert "l_comment" not in line and "l_extendedprice" not in line
    plan = _plan(qs["token_counts"](spark, SF))
    line = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in line and "text" in line and "lang" not in line


def _operators(plan) -> set:
    """Operator names of a physical plan, without descending into cached
    relations (the persisted inputs' own lineage is not the request's)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _operators(plan.executedPlan())
    kids = plan.children()
    return {plan.nodeName()}.union(*(_operators(kids.apply(i)) for i in range(kids.size())))


# operators that run a Python worker; a PIP plan has none of them
PYTHON_NODES = {"ArrowEvalPython", "BatchEvalPython", "FlatMapCoGroupsInPandas", "MapInPandas"}


def test_serve_requests_run_few_jobs(spark):
    """Serve-shaped requests (64 queries against a persisted depth-12
    build, 120 rects over the points), jobs counted by job group: building
    the kNN plan runs no job, its action runs at most 5 with no Python
    evaluation node, and the search and PIP actions run at most 3 each,
    PIP with no Python node in its executed plan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from geospatial_cuda_spark import datagen as D
    from geospatial_cuda_spark.operators import knn as K, pip as P, quadtree as QT, search as S
    from geospatial_cuda_spark.planaudit import plan_nodes

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    points = D.points_table(spark, 5_000, 4, seed=3).persist()
    cells = QT.build_cells(points, max_depth=12).persist()
    cells.count()
    pts = QT.with_cell_id(
        points.select("pid", F.col("x").cast("double"), F.col("y").cast("double")), 18
    ).persist()
    pts.count()
    rng = np.random.default_rng(5)
    queries = spark.createDataFrame(pd.DataFrame({
        "qid": np.arange(64, dtype=np.int64),
        "x": rng.integers(0, 1_000_000, 64).astype(np.float64),
        "y": rng.integers(0, 1_000_000, 64).astype(np.float64),
    }))
    x0, y0 = rng.integers(0, 900_000, 120), rng.integers(0, 900_000, 120)
    w, h = rng.integers(20_000, 90_000, 120), rng.integers(15_000, 70_000, 120)
    rects = spark.createDataFrame(pd.DataFrame({
        "poly_id": np.arange(120, dtype=np.int64),
        "xs": [[float(a), float(a + c), float(a + c), float(a)] for a, c in zip(x0, w)],
        "ys": [[float(b), float(b), float(b + d), float(b + d)] for b, d in zip(y0, h)],
    }), "poly_id long, xs array<double>, ys array<double>")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description"):
                sc.setLocalProperty(key, None)
        return out, len(tracker.getJobIdsForGroup(group))

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    try:
        for i in range(2):  # the second request runs on a warm session
            knn, built = jobs(f"knn-build-{i}", lambda: K.knn_cells_exact(
                queries, pts, k=5, depth=K.choose_knn_depth(5_000, 5)))
            assert built == 0
            nodes = _operators(knn._jdf.queryExecution().executedPlan())
            assert {"BroadcastHashJoin", "Window"} <= nodes, nodes
            assert not {"ArrowEvalPython", "BatchEvalPython"} & nodes, nodes
            _, ran = jobs(f"knn-run-{i}", lambda: noop(knn))
            assert ran <= 5, ran
            search = S.quadrant_search_prefix(queries, cells, max_depth=12)
            _, ran = jobs(f"search-run-{i}", lambda: noop(search))
            assert ran <= 3, ran
            pip = P.point_in_polygons_join(points, rects, block_depth=4).groupBy("poly_id").count()
            hits, ran = jobs(f"pip-run-{i}", pip.collect)
            assert ran <= 3 and hits, ran
            nodes = {node.nodeName() for node in plan_nodes(pip)}
            assert not PYTHON_NODES & nodes, nodes
    finally:
        for df in (pts, cells, points):
            df.unpersist()


def test_no_python_in_encode_or_bbox(spark, small_points_df):
    """The encode and the bbox have one rendering each, in the JVM: the
    executed plans of a depth-18 build and a depth-18 encode hold no Python
    evaluation node. The counts relation past depth 13 keeps exactly one,
    its in-kernel rollup."""
    from geospatial_cuda_spark.operators import quadtree as QT
    from geospatial_cuda_spark.planaudit import plan_nodes

    def python_nodes(df) -> list[str]:
        df.collect()
        return [n.nodeName() for n in plan_nodes(df) if n.nodeName() in PYTHON_NODES]

    # a plan of its own: other tests persist these relations over the
    # shared fixture, and a cached scan would hide the plan under test
    pts = small_points_df.where("pid >= 0")
    assert python_nodes(QT.build_cells(pts, max_depth=18)) == []
    assert python_nodes(QT.with_cell_id(pts, 18)) == []
    assert python_nodes(QT.counts_from_points(pts, max_depth=18)) == ["MapInPandas"]
