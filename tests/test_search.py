"""Quadrant-search join (J1) + point lookup (J2) vs the numpy oracle,
including the verbatim inference.cu:109-117 scenario and agreement between
the two physical strategies."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatial_cuda_spark import oracle
from geospatial_cuda_spark.datagen import queries_table
from geospatial_cuda_spark.operators import quadtree as QT, search as S


@pytest.fixture(scope="module")
def world(spark, small_points, small_points_df):
    x, y = small_points
    root = oracle.build_quadtree(x, y)
    bnds = oracle.boundaries_array(root)
    cells = QT.build_cells(small_points_df).persist()
    cells.count()
    queries = queries_table(spark, n_random=300).persist()
    qpdf = queries.orderBy("qid").toPandas()
    want = oracle.quadrant_search(qpdf["x"].to_numpy(), qpdf["y"].to_numpy(), bnds)
    return root, bnds, cells, queries, qpdf, want


def _got(df, qpdf):
    got = df.select("qid", S.RESULT_COL).orderBy("qid").toPandas()
    assert got["qid"].tolist() == qpdf["qid"].tolist()
    return got[S.RESULT_COL].to_numpy()


def test_broadcast_path_matches_oracle(world):
    _, _, cells, queries, qpdf, want = world
    got = _got(S.quadrant_search_broadcast(queries, cells), qpdf)
    assert np.array_equal(got, want)


def test_prefix_path_matches_oracle(world):
    _, _, cells, queries, qpdf, want = world
    got = _got(S.quadrant_search_prefix(queries, cells), qpdf)
    assert np.array_equal(got, want)


def test_out_of_domain_returns_minus_one(spark, world):
    _, _, cells, _, _, _ = world
    oob = spark.createDataFrame(
        [(0, -1.0, 5.0), (1, 1000001.0, 5.0), (2, 5.0, -0.5)], "qid long, x float, y float"
    )
    for fn in (S.quadrant_search_broadcast, S.quadrant_search_prefix):
        res = fn(oob, cells).select(S.RESULT_COL).toPandas()[S.RESULT_COL]
        assert (res == -1).all()


def test_search_keeps_rows_columns_and_qid_rule(spark, world):
    """Differential against the numpy oracle, both strategies: extra query
    columns are kept, identical duplicate rows keep their multiplicity,
    rows that share a qid at different coordinates all get the max over
    that qid's rows, and out-of-domain queries return -1."""
    from collections import Counter

    _, bnds, cells, _, _, _ = world
    rows = [
        (0, "a", 1.5, 100.0, 100.0),
        (0, "a", 1.5, 100.0, 100.0),  # identical duplicate row
        (1, "b", None, 500000.0, 500000.0),
        (1, "c", 2.0, 999999.0, 3.0),  # same qid, other coordinates
        (2, "d", 3.0, -5.0, 3.0),  # out of domain
        (3, "e", 4.0, 2e6, -1.0),  # out of domain
        (4, None, 5.0, 777777.0, 333333.0),
        (5, "f", 6.0, 1e6, 1e6),  # the domain max
    ]
    df = spark.createDataFrame(rows, "qid long, tag string, w double, x float, y float")
    qx = np.array([r[3] for r in rows], dtype=np.float64)
    qy = np.array([r[4] for r in rows], dtype=np.float64)
    per_row = oracle.quadrant_search(qx, qy, bnds)
    best = {}
    for r, f in zip(rows, per_row):
        best[r[0]] = max(best.get(r[0], -1), int(f))
    assert best[2] == best[3] == -1 and best[1] >= 0
    want = Counter(r + (best[r[0]],) for r in rows)
    for fn in (S.quadrant_search_broadcast, S.quadrant_search_prefix):
        out = fn(df, cells)
        assert out.columns == ["qid", "tag", "w", "x", "y", S.RESULT_COL]
        assert Counter(tuple(r) for r in out.collect()) == want, fn.__name__


def test_point_lookup_inference_scenario(spark, world, small_points, small_points_df):
    """The reference driver's membership check on the six hard-coded queries:
    found ⇔ the exact point exists in the located quadrant's subtree."""
    root, bnds, cells, queries, qpdf, want = world
    x, y = small_points
    pts = QT.with_cell_id(small_points_df, 18)
    got = (
        S.point_lookup(queries, pts, cells)
        .orderBy("qid")
        .toPandas()
    )
    member_want = oracle.point_membership(
        root, x, y, qpdf["x"].to_numpy(), qpdf["y"].to_numpy(), want
    )
    assert np.array_equal(got[S.RESULT_COL].to_numpy(), want)
    assert np.array_equal(got["found"].to_numpy(), member_want)
    # scenario sanity: (100,100) sparse-region search resolves to a quadrant
    # but the exact point is absent (inference.cu behavior)
    row3 = got[got.qid == 3].iloc[0]
    assert row3[S.RESULT_COL] >= 0 and not row3["found"]


def _edge_pack_queries() -> tuple[np.ndarray, np.ndarray]:
    """Adversarial query coordinates, as float64: the midline/corner pack,
    float32 level boundaries at depths 1-8 with their float32 neighbors on
    both sides, raw doubles within ±half a float32 ULP of a boundary at
    depths 1-13 (they must quantize ONTO it), and out-of-domain points."""
    rng = np.random.default_rng(11)
    xs = [np.float64([500000, 500000, 250000, 0, 999999, 1000000])]
    ys = [np.float64([500000, 123456, 750000, 0, 999999, 1000000])]
    for d in range(1, 9):
        b = (rng.integers(0, 1 << d, size=12) * (1e6 / (1 << d))).astype(np.float32)
        for v in (b, np.nextafter(b, np.float32(np.inf)), np.nextafter(b, np.float32(-np.inf))):
            xs.append(v.astype(np.float64))
            ys.append(v[::-1].astype(np.float64))
    for d in range(1, 14):
        step = 1e6 / (1 << d)  # exact in float64 for d <= 13
        b = rng.integers(1, 1 << d, size=6).astype(np.float64) * step
        ulp = np.spacing(b.astype(np.float32)).astype(np.float64)
        for f in (-0.5, -0.49, -0.25, 0.0, 0.25, 0.49, 0.5):
            xs.append(b + f * ulp)
            ys.append((b + f * ulp)[::-1])
    xs.append(np.float64([-5.0, 2e6]))
    ys.append(np.float64([3.0, -1.0]))
    return np.concatenate(xs), np.concatenate(ys)


def test_strategies_agree_on_edge_pack(spark, world):
    """Shared-edge containment (midlines, corners, level boundaries and
    their float32 and sub-ULP raw-double neighbors) and out-of-domain
    queries must resolve identically under both physical paths."""
    _, _, cells, _, _, _ = world
    xs, ys = _edge_pack_queries()
    edge = spark.createDataFrame(pd.DataFrame({"qid": np.arange(xs.size), "x": xs, "y": ys}))
    a = S.quadrant_search_broadcast(edge, cells).orderBy("qid").toPandas()
    b = S.quadrant_search_prefix(edge, cells).orderBy("qid").toPandas()
    assert len(a) == xs.size
    assert a[S.RESULT_COL].tolist() == b[S.RESULT_COL].tolist()
    assert a[S.RESULT_COL].iloc[-2:].tolist() == [-1, -1]


def test_cells_cache_lru_evicts_and_unpersists(spark, monkeypatch):
    """ADVICE r2: the per-dataset index cache must not grow (and hold
    executor storage) without bound across datasets — the LRU bound evicts
    AND unpersists the oldest entry."""
    from geospatial_cuda_spark import entrypoints as E

    E._CELLS_CACHE.clear()
    monkeypatch.setattr(E, "_CELLS_CACHE_MAX", 1)
    df1 = E._cells(spark, "/root/testdata/sf0.001")
    assert df1.storageLevel.useMemory
    df2 = E._cells(spark, "/root/testdata/sf0.01")
    assert len(E._CELLS_CACHE) == 1
    assert not df1.storageLevel.useMemory  # evicted entry unpersisted
    # the build persists nothing of its own that eviction could leak
    # (review finding: a cached internal counts relation leaked executor
    # storage per rebuild)
    assert not getattr(df1, "_graft_persists", [])
    assert df2.storageLevel.useMemory
    # re-request of the evicted dataset rebuilds (cache miss, no stale entry)
    df1b = E._cells(spark, "/root/testdata/sf0.001")
    assert df1b.storageLevel.useMemory and len(E._CELLS_CACHE) == 1
    E._CELLS_CACHE.clear()
    df1b.unpersist()


# ---------------------------------------------------------------------------
# distance_join (radius / ST_DWithin)
# ---------------------------------------------------------------------------


def _brute_pairs(qx, qy, px, py, r):
    """All (qi, pi) index pairs within inclusive Euclidean distance r."""
    dx = px[None, :].astype(np.float64) - qx[:, None].astype(np.float64)
    dy = py[None, :].astype(np.float64) - qy[:, None].astype(np.float64)
    with np.errstate(over="ignore", invalid="ignore"):
        return np.argwhere(dx * dx + dy * dy <= float(r) * float(r))


def test_distance_join_matches_numpy_brute_force(spark):
    """Random lattice points plus points at −inf, −1e300 and NaN: those bin
    to a grid edge without overflowing a cast (ANSI would raise) and match
    no query, as in numpy."""
    rng = np.random.RandomState(7)
    px = rng.randint(0, 1_000_000, 400).astype(np.float64)
    py = rng.randint(0, 1_000_000, 400).astype(np.float64)
    qx = rng.randint(0, 1_000_000, 40).astype(np.float64)
    qy = rng.randint(0, 1_000_000, 40).astype(np.float64)
    px = np.concatenate([px, [-np.inf, -1e300, np.nan, 5.0]])
    py = np.concatenate([py, [5.0, -1e300, 5.0, np.nan]])
    # rows, not pandas: Arrow conversion would turn NaN into null
    pts = spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(px, py))],
        "pid long, x double, y double",
    )
    qs = spark.createDataFrame(pd.DataFrame({"qid": np.arange(40), "x": qx, "y": qy}))
    for r in (50_000.0, 180_000.0):
        got = (
            S.distance_join(qs, pts, radius=r)
            .select("qid", "pid")
            .toPandas()
            .sort_values(["qid", "pid"])
            .to_numpy()
        )
        want = _brute_pairs(qx, qy, px, py, r)
        assert np.array_equal(got, want), f"radius {r}"
    # a query at the origin reaches the edge bin the non-finite points land in
    q0 = spark.createDataFrame([(0, 0.0, 0.0)], "qid long, x double, y double")
    got0 = S.distance_join(q0, pts, radius=10.0).select("pid").collect()
    assert sorted(r["pid"] for r in got0) == sorted(
        int(j) for _, j in _brute_pairs(np.zeros(1), np.zeros(1), px, py, 10.0)
    )


def test_distance_join_inclusive_boundary_and_bin_edges(spark):
    """A point EXACTLY at distance r is kept (inclusive), one lattice step
    beyond is dropped — including when query, point, and the r-offset all sit
    exactly on blocking-grid bin boundaries (the conservative-rectangle edge
    case the pad guards)."""
    # depth for r=31250 is 5 -> bin width 31250: q at a bin corner, matches
    # at exactly r along each axis land on bin boundaries too
    r = 31_250.0
    q = spark.createDataFrame(pd.DataFrame({"qid": [0], "x": [500_000.0], "y": [500_000.0]}))
    pts = pd.DataFrame(
        {
            "pid": [0, 1, 2, 3, 4, 5],
            "x": [500_000.0 - r, 500_000.0 + r, 500_000.0, 500_000.0, 500_000.0 + r + 1, 500_000.0],
            "y": [500_000.0, 500_000.0, 500_000.0 - r, 500_000.0 + r, 500_000.0, 500_000.0 + r + 1],
        }
    )
    got = (
        S.distance_join(q, spark.createDataFrame(pts), radius=r)
        .select("pid")
        .toPandas()["pid"]
        .sort_values()
        .tolist()
    )
    assert got == [0, 1, 2, 3]


def test_distance_join_reserved_columns_rejected(spark):
    """A points column named like the output or a working column of the
    blocking join raises instead of being overwritten or made ambiguous."""
    q = spark.createDataFrame(pd.DataFrame({"qid": [0], "x": [1.0], "y": [1.0]}))
    for name in ("dist2", "qid", "_qx", "_qy", "_qkey"):
        p = spark.createDataFrame(pd.DataFrame({name: [0.0], "x": [1.0], "y": [1.0]}))
        with pytest.raises(ValueError, match=f"reserved.*{name}"):
            S.distance_join(q, p, radius=10.0)


def test_distance_join_plan_broadcasts_queries_not_points(spark):
    """Scale invariant: the points side must reach the join without an
    exchange — the exploded query rectangle is the broadcast side."""
    import contextlib, io

    q = spark.createDataFrame(pd.DataFrame({"qid": [0], "x": [1.0], "y": [1.0]}))
    p = spark.createDataFrame(pd.DataFrame({"pid": [0], "x": [1.0], "y": [1.0]}))
    df = S.distance_join(q, p, radius=10.0)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
