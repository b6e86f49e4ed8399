"""M1/M2 mutation semantics: the full inference.cu scenario replayed
set-based, with incremental cells refresh == from-scratch rebuild."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from geospatial_cuda_spark.operators import mutations as M, quadtree as QT, search as S


def _cells_pdf(df):
    return (
        df.select("cell_id", "depth", "count", "is_leaf")
        .orderBy("cell_id")
        .toPandas()
    )


def test_inference_scenario_insert_delete(spark, small_points_df):
    pts0 = small_points_df
    counts0 = QT.counts_from_points(pts0).persist()
    cells0 = QT.cells_from_counts(counts0).persist()
    q = spark.createDataFrame([(0, 9981.0, 9979.0)], "qid long, x float, y float").select(
        "qid", F.col("x").cast("float"), F.col("y").cast("float")
    )

    # search before insert: point absent
    p0 = QT.with_cell_id(pts0, 18)
    r0 = S.point_lookup(q, p0, cells0).collect()[0]
    assert not r0["found"]

    # insert (only-if-missing) then search: present
    new = q.select(F.lit(99999).alias("pid"), "x", "y")
    pts1 = M.insert_points(pts0, new).persist()
    assert pts1.count() == pts0.count() + 1
    counts1, cells1 = M.refresh_cells(counts0, M.counts_delta(new, +1))
    r1 = S.point_lookup(q, QT.with_cell_id(pts1, 18), cells1).collect()[0]
    assert r1["found"]

    # double-insert is a no-op
    assert M.insert_points(pts1, new).count() == pts1.count()

    # delete then search: absent again; incremental == rebuilt from scratch
    pts2 = M.delete_points(pts1, q).persist()
    assert pts2.count() == pts0.count()
    counts2, cells2 = M.refresh_cells(counts1, M.counts_delta(q.select("x", "y"), -1))
    r2 = S.point_lookup(q, QT.with_cell_id(pts2, 18), cells2).collect()[0]
    assert not r2["found"]

    rebuilt = QT.build_cells(pts2)
    assert _cells_pdf(cells2).equals(_cells_pdf(rebuilt))


def test_insert_triggers_split_and_delete_recoarsens(spark):
    """Crossing MIN_POINTS splits a leaf; deleting back collapses it —
    the intended semantics of insert_point/delete_point (cuda/insert.cpp:19-32,
    cuda/delete.cpp:44-75)."""
    base = spark.createDataFrame(
        [(i, 100.0 + i, 100.0) for i in range(4)], "pid long, x float, y float"
    ).select("pid", F.col("x").cast("float"), F.col("y").cast("float"))
    counts0 = QT.counts_from_points(base).persist()
    cells0 = QT.cells_from_counts(counts0)
    assert cells0.count() == 1  # root leaf (4 < MIN_POINTS)

    extra = spark.createDataFrame([(9, 200000.0, 90.0)], "pid long, x float, y float").select(
        "pid", F.col("x").cast("float"), F.col("y").cast("float")
    )
    counts1, cells1 = M.refresh_cells(counts0, M.counts_delta(extra, +1))
    assert cells1.where("is_leaf = false").count() > 0  # root split
    rebuilt = QT.build_cells(M.insert_points(base, extra))
    assert _cells_pdf(cells1).equals(_cells_pdf(rebuilt))

    counts2, cells2 = M.refresh_cells(counts1, M.counts_delta(extra.select("x", "y"), -1))
    assert cells2.count() == 1  # re-coarsened to a single root leaf
    assert _cells_pdf(cells2).equals(_cells_pdf(cells0))


def test_mutation_query_releases_caches(spark):
    """VERDICT r5 item 3: the mutation_cells contract query must not leak
    refresh_cells' internal counts persist for the session lifetime — the
    same no-persisted-RDD discipline test_dedup_text pins for the dedup
    pipelines. The query materializes via an eager localCheckpoint and
    unpersists the graft before returning; checkpoint blocks are
    ContextCleaner-reclaimed once the frame drops."""
    import gc
    import time

    from geospatial_cuda_spark.entrypoints import QUERIES

    sc = spark.sparkContext

    def settled_count(bound: int | None = None) -> int:
        # ContextCleaner reclamation is async (py4j ref release + JVM weak
        # refs): poll until the count is <= ``bound`` (the baseline, with no
        # bound, until it stops decreasing) or a 10 s deadline passes. A
        # sample taken before the cleaner starts must not end the poll.
        deadline = time.monotonic() + 10.0
        last = sc._jsc.getPersistentRDDs().size()
        while True:
            gc.collect()
            sc._jvm.System.gc()
            time.sleep(0.25)
            cur = sc._jsc.getPersistentRDDs().size()
            done = cur >= last if bound is None else cur <= bound
            if done or time.monotonic() > deadline:
                return cur
            last = cur

    counts = []
    for _ in range(3):
        out = QUERIES["mutation_cells"](spark, "/root/testdata/sf0.001")
        out.count()
        del out
        counts.append(settled_count(counts[0] + 1 if counts else None))
    # the r5 leak grew by exactly one persisted relation PER RUN; steady
    # state must not accumulate (one in-flight checkpoint's worth of slack)
    assert counts[-1] <= counts[0] + 1, counts
