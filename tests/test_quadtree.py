"""Level-synchronous DataFrame quadtree build vs the recursive numpy oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_cuda_spark import DOMAIN, oracle
from geospatial_cuda_spark.operators import quadtree as QT


def _dense_cell_points():
    """64 points (with duplicates) inside ONE depth-14 cell — cell edges lie
    at multiples of 1e6/2^14 ≈ 61.04, and these span 611..618 x 611..614 —
    so a single chain splits to max_depth beside zero-count siblings."""
    i = np.arange(64)
    return (611 + i % 8).astype(np.float32), (611 + (i // 8) % 4).astype(np.float32)


def _domain_max_points():
    """Points on the closed domain's max edges and corner, where the JVM
    encode clamps to the last bin and the kernel takes every right/top
    branch; the (5e5, 1e6) group also sits on the root's vertical midline."""
    x = [1e6] * 8 + [1e6] * 6 + [0.0] * 6 + [999999.0] * 6 + [5e5] * 6
    y = [1e6] * 8 + [0.0] * 6 + [1e6] * 6 + [1e6] * 6 + [1e6] * 6
    return np.float32(x), np.float32(y)


ORACLE_INPUTS = {
    "small": None,  # the session fixture's points
    "empty": (np.zeros(0, np.float32), np.zeros(0, np.float32)),
    "dense": _dense_cell_points(),
    "domain_max": _domain_max_points(),
    # few points spread over EMPTY_PARTITIONS_SLICES slices, so most
    # partitions (and Arrow batches) hold no row
    "empty_partitions": (np.float32([10, 500_000, 999_999]), np.float32([20, 500_000, 7])),
}
EMPTY_PARTITIONS_SLICES = 16


# run_inference's square (0, 0, max_size, max_size) at max_size 1000, and a
# non-square domain; the inputs are scaled into each
OTHER_DOMAINS = {"square1000": (0, 0, 1000, 1000), "nonsquare": (0, 0, 1_000_003, 777_777)}
ORACLE_CASES = [
    pytest.param(case, max_depth, None, id=f"{case}-{max_depth}")
    for max_depth in (8, 12, 13, 14, 18)
    for case in ORACLE_INPUTS
] + [
    pytest.param(case, max_depth, name, id=f"{case}-{max_depth}-{name}")
    for name in OTHER_DOMAINS
    for max_depth in (8, 12, 18)
    for case in ORACLE_INPUTS
]


@pytest.mark.parametrize("case, max_depth, domain_name", ORACLE_CASES)
def test_cells_relation_equals_oracle(spark, small_points, case, max_depth, domain_name):
    """build_cells equals the recursive oracle row for row on every input,
    at depths 8 to 18 (the extent stop is evaluated at 18 on the reference
    domain and at every depth on the 1000-wide one) and on two domains
    besides the reference one. Its executed plan is the one-aggregation
    shape at every depth and on every domain: two shuffle exchanges (the
    finest-cell histogram and the parent aggregation), no join and no
    cached-relation scan; the empty input also gets its root row, and
    empty partitions change neither the rows nor the plan shape."""
    import pandas as pd

    from geospatial_cuda_spark.planaudit import plan_nodes

    x, y = ORACLE_INPUTS[case] or small_points
    domain = OTHER_DOMAINS.get(domain_name, DOMAIN)
    if domain_name:
        x = (domain[0] + x.astype(np.float64) * ((domain[2] - domain[0]) / 1e6)).astype(np.float32)
        y = (domain[1] + y.astype(np.float64) * ((domain[3] - domain[1]) / 1e6)).astype(np.float32)
    root = oracle.build_quadtree(x, y, domain, max_depth=max_depth)
    want = {r["cell_id"]: r for r in oracle.cells_relation(root)}
    if case == "empty_partitions":
        rows = [(float(a), float(b)) for a, b in zip(x, y)]
        pts = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, EMPTY_PARTITIONS_SLICES), "x float, y float"
        )
        assert pts.rdd.getNumPartitions() == EMPTY_PARTITIONS_SLICES
    else:
        pts = spark.createDataFrame(pd.DataFrame({"x": x, "y": y}), "x float, y float")
    cells = QT.build_cells(pts, domain=domain, max_depth=max_depth)
    got = {r.cell_id: r for r in cells.collect()}
    assert set(got) == set(want)
    for cid, w in want.items():
        g = got[cid]
        assert g.depth == w["depth"], cid
        assert g["count"] == w["count"], cid
        assert g.is_leaf == w["is_leaf"], cid
        assert (g.min_x, g.min_y, g.max_x, g.max_y) == (
            np.float32(w["min_x"]),
            np.float32(w["min_y"]),
            np.float32(w["max_x"]),
            np.float32(w["max_y"]),
        ), cid
    names = [node.nodeName() for node in plan_nodes(cells)]
    # AQE drops the histogram's exchange once it sees an empty input
    assert names.count("Exchange") == (2 if x.size else 1), names
    assert not any("Join" in name for name in names), names
    assert "InMemoryTableScan" not in names, names


def test_cells_from_deeper_counts_equals_build(spark, small_points_df):
    """cells_from_counts reads only the prefix counts down to its max_depth:
    a depth-14 counts relation yields the depth-12 tree build_cells gives."""
    counts = QT.counts_from_points(small_points_df, max_depth=14)
    got = QT.cells_from_counts(counts, max_depth=12).collect()
    want = QT.build_cells(small_points_df, max_depth=12).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_warm_build_reuses_cached_column_trees(spark, small_points_df, monkeypatch):
    """The build's heavy Column trees are rendered once per SparkContext:
    constructing a second build_cells plan, at depth 12 or 18, makes at most
    1,000 py4j round trips (about 8,000 at depth 12 when every call rebuilt
    them), and a repeated with_cell_id key reuses its cached stage Columns
    instead of building them again."""
    import gc
    import threading

    from geospatial_cuda_spark.functions import cells as C

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    for max_depth in (12, 18):
        QT.build_cells(small_points_df, max_depth=max_depth)
        # free earlier garbage first: py4j sends one round trip per
        # collected JVM proxy, whenever the collector runs
        gc.collect()
        sent = []
        builder = threading.current_thread()

        def counting(*args, **kwargs):
            # only the build's own calls: py4j's finalizer thread sends the
            # deletes of proxies collected earlier whenever it wakes (once a
            # second), so its traffic in this window is a matter of timing
            if threading.current_thread() is builder:
                sent.append(1)
            return send(*args, **kwargs)

        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            QT.build_cells(small_points_df, max_depth=max_depth)
        assert 0 < len(sent) <= 1000, (max_depth, len(sent))

    built = []
    stages = C._cell_id_stages
    with monkeypatch.context() as m:
        m.setattr(C, "_cell_id_stages", lambda *a: built.append(a) or stages(*a))
        for _ in range(2):
            # a key no other test builds (names swapped), then the build's own
            C.with_cell_id(small_points_df, 13, x="y", y="x")
            C.with_cell_id(small_points_df, 18)
    assert built == [("y", "x", 13, DOMAIN)], built


def test_no_point_outside_leaf(spark, small_points_df):
    """validate_grid (cuda/kernels.cu:422-492) as an anti-join: zero points
    violate their assigned leaf bbox."""
    from pyspark.sql import functions as F

    cells = QT.build_cells(small_points_df)
    pts = QT.with_cell_id(small_points_df, 18)
    leaves = cells.where("is_leaf AND count > 0")
    # assign each point to the leaf owning its finest-prefix chain
    joined = pts.join(
        leaves.select("cell_id", "depth", "min_x", "min_y", "max_x", "max_y").withColumnRenamed(
            "cell_id", "leaf_id"
        ),
        on=QT.ancestor_dyn_col(F.col("cell_id"), F.lit(18) - F.col("depth")) == F.col("leaf_id"),
        how="inner",
    )
    n = small_points_df.count()
    assert joined.count() == n  # every point owned by exactly one leaf
    violations = joined.where(
        ~(
            (F.col("x") >= F.col("min_x"))
            & (F.col("x") <= F.col("max_x"))
            & (F.col("y") >= F.col("min_y"))
            & (F.col("y") <= F.col("max_y"))
        )
    )
    assert violations.count() == 0


def test_clustered_layout_prunes_scan(spark, small_points_df, tmp_path):
    """X7: the cell-clustered layout gives the reference's O(1) subtree slice
    (assign_points, cuda/kernels.cu:494-515) as ordinary partition pruning —
    reading one depth-2 subtree must touch ONLY that subtree's files, and the
    cell_id range predicate must reach the parquet scan (row-group min/max
    pruning on the sorted files)."""
    import contextlib
    import io

    from geospatial_cuda_spark.operators import cluster as CL

    pts = QT.with_cell_id(small_points_df, 18)
    path = str(tmp_path / "clustered")
    CL.write_clustered(pts, path, prefix_depth=2, max_depth=18, num_partitions=8)

    from geospatial_cuda_spark.planaudit import scan_metrics

    full = spark.read.parquet(path)
    total_files = len(full.inputFiles())  # relation-level listing (no pruning)
    prefixes = sorted(r[0] for r in full.select("cell_prefix").distinct().collect())
    assert len(prefixes) > 1
    target = full.where(F.col("cell_prefix") == prefixes[0])

    # (a) directory partition pruning, from the EXECUTED plan's scan metrics:
    # exactly one of the partition dirs (and strictly fewer files) is read.
    # (metrics live on the executed DataFrame object — introspect the one we
    # collected)
    target_pid = target.select("pid", "cell_prefix").drop("cell_prefix")
    got_rows = sorted(r[0] for r in target_pid.collect())
    (scan,) = scan_metrics(target_pid)
    assert scan["numPartitions"] == 1, scan
    assert 0 < scan["numFiles"] < total_files, (scan, total_files)
    # (b) the partition filter is in the scan node, and a cell_id range
    # predicate is pushed down to the parquet reader
    ranged = target.where((F.col("cell_id") >= 0) & (F.col("cell_id") <= 10**6))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ranged.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cell_prefix" in plan
    assert "PushedFilters" in plan and "cell_id" in plan.split("PushedFilters", 1)[1][:200]
    # (c) the slice content equals the relational filter (same rows)
    want = pts.where(
        QT.ancestor_col(F.col("cell_id"), 16) == prefixes[0]
    ).select("pid")
    assert got_rows == sorted(r[0] for r in want.collect())


def test_validate_cells_detects_corruption(spark, small_points_df):
    """validate_grid as a product operator (P4+A2): a valid tree reports
    all-zero violations with conserved counts; dropping leaves or
    perturbing a count is detected on the matching axis."""
    from pyspark.sql import functions as F

    from geospatial_cuda_spark.operators import quadtree as QT

    cells = QT.build_cells(small_points_df, max_depth=8).persist()
    n = small_points_df.count()
    v = QT.validate_cells(small_points_df, cells, max_depth=8).first()
    assert (v["n_points"], v["leaf_count_sum"]) == (n, n)
    assert v["n_unclaimed"] == v["n_multi_claimed"] == v["n_count_mismatch"] == 0
    # drop every populated leaf with cell_id % 5 == 0 → unclaimed points +
    # broken split sums
    broken = cells.where(
        ~(F.col("is_leaf") & (F.col("count") > 0) & (F.col("cell_id") % 5 == 0))
    )
    b = QT.validate_cells(small_points_df, broken, max_depth=8).first()
    assert b["n_unclaimed"] > 0 and b["leaf_count_sum"] < n
    assert b["n_count_mismatch"] > 0
    # corrupt one interior count → exactly the A2 axis fires
    tweaked = cells.withColumn(
        "count",
        F.when(~F.col("is_leaf") & (F.col("depth") == 2), F.col("count") + 1)
        .otherwise(F.col("count")),
    )
    t = QT.validate_cells(small_points_df, tweaked, max_depth=8).first()
    assert t["n_count_mismatch"] > 0 and t["n_unclaimed"] == 0
    cells.unpersist()


def test_validate_cells_multi_claim_does_not_cancel_unclaimed(spark):
    """Review repro: a point claimed by TWO overlapping leaves must NOT
    cancel out another point claimed by none — multi-claim and unclaimed
    are counted per point, not per (point, leaf) pair."""
    from pyspark.sql import functions as F

    from geospatial_cuda_spark.functions import cells as C
    from geospatial_cuda_spark.operators import quadtree as QT

    pts = spark.createDataFrame(
        [(100.0, 100.0), (900000.0, 900000.0)], "x float, y float"
    )
    fid_a = int(C.encode_cell_ids(np.float32([100.0]), np.float32([100.0]), 2)[0])
    # leaves: point A's depth-2 cell AND its depth-1 parent (overlap!);
    # point B gets NO leaf at all
    rows = [(fid_a, 2, 1, True), ((fid_a - 1) // 4, 1, 1, True)]
    cells = spark.createDataFrame(
        rows, "cell_id long, depth int, count long, is_leaf boolean"
    )
    v = QT.validate_cells(pts, cells, max_depth=2).first()
    assert v["n_multi_claimed"] == 1, v
    assert v["n_unclaimed"] == 1, v  # B missing — not masked by A's double claim


def test_build_and_validate_cells_on_nonfinite_points(spark):
    """Points at ±inf, ±1e300 and NaN bin to a grid edge in the depth-12
    ingest encode, as in the float32 kernel: the encode and the build raise
    nothing (ANSI would on an overflowing cast), the root counts every
    point, and validate_cells reports no violation."""
    from geospatial_cuda_spark.functions import cells as C

    inf, nan = float("inf"), float("nan")
    rows = [(-inf, 5.0), (nan, 3.0), (123.0, 456.0), (-1e300, -1e300), (5.0, nan),
            (inf, 2e6), (1e300, 7.0)]
    pts = spark.createDataFrame(rows, "x double, y double")
    got = [r["cell_id"] for r in QT.with_cell_id(pts, 12).collect()]
    with np.errstate(over="ignore"):
        want = C.encode_cell_ids(*(np.array(c) for c in zip(*rows)), 12)
    assert got == want.tolist()
    cells = QT.build_cells(pts, max_depth=12)
    assert cells.where(F.col("cell_id") == 0).first()["count"] == len(rows)
    v = QT.validate_cells(pts, cells, max_depth=12).first()
    assert (v["n_points"], v["leaf_count_sum"]) == (len(rows), len(rows))
    assert v["n_unclaimed"] == v["n_multi_claimed"] == v["n_count_mismatch"] == 0


def test_cell_cardinality_kmv_accuracy(spark):
    """KMV sketch: the 256-minimum-values estimate of occupied-cell
    cardinality must land within the ~1/sqrt(k) band of the exact count
    (measured 1.5% on the fixtures; gate at 20%), and the small-cardinality
    branch must be EXACT."""
    from pyspark.sql import functions as F

    import geospatial_cuda_spark.entrypoints as EP

    r = EP.QUERIES["cell_cardinality_kmv"](spark, "/root/testdata/sf0.001").collect()[0]
    assert r["k"] == 256
    assert abs(r["est_occupied"] - r["n_exact"]) / r["n_exact"] < 0.2
    # < k distinct values: estimator degenerates to the exact count
    few = spark.range(40).select(
        (F.col("id") * 1000).cast("float").alias("x"),
        (F.col("id") * 1000).cast("float").alias("y"),
        F.col("id").alias("pid"),
    )
    import geospatial_cuda_spark.contract.fixtures as _ep
    hs = QT.with_cell_id(few, _ep.KMV_DEPTH).select(
        F.md5(F.col("cell_id").cast("string")).alias("h")
    ).distinct()
    assert hs.count() == 40  # sanity: small branch would return k itself
