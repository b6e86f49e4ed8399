"""Cell-encoding kernels vs the recursive numpy oracle (reference semantics)."""

from __future__ import annotations

import numpy as np
import pytest

from geospatial_cuda_spark import DOMAIN
from geospatial_cuda_spark import oracle
from geospatial_cuda_spark.functions import cells as C


def _oracle_leaf_path_ids(x, y, depth):
    """Digit-at-a-time descent mirroring categorize_points, per point,
    plain-python (independent of the vectorized kernel's internals)."""
    out = []
    for px, py in zip(np.float32(x), np.float32(y)):
        x1, y1, x2, y2 = map(np.float32, DOMAIN)
        cid = 0
        for _ in range(depth):
            mx = np.float32((x2 + x1) / np.float32(2))
            my = np.float32((y2 + y1) / np.float32(2))
            if px <= mx and py <= my:
                k, x2n, y2n, x1n, y1n = 0, mx, my, x1, y1
            elif px > mx and py <= my:
                k, x1n, y2n, x2n, y1n = 1, mx, my, x2, y1
            elif px <= mx and py > my:
                k, x2n, y1n, x1n, y2n = 2, mx, my, x1, y2
            else:
                k, x1n, y1n, x2n, y2n = 3, mx, my, x2, y2
            cid = cid * 4 + k + 1
            x1, y1, x2, y2 = x1n, y1n, x2n, y2n
        out.append(cid)
    return np.array(out, dtype=np.int64)


# NaN, ±inf, ±1e300, out-of-domain and domain-edge values: every (x, y)
# pair of them must bin like the float32 kernel, which sends NaN left/bottom
_EDGE_VALUES = np.array([np.nan, np.inf, -np.inf, 1e300, -1e300, -5.0, 2e6, 0.0, 1e6, 5.0])
_EDGE_X = np.repeat(_EDGE_VALUES, _EDGE_VALUES.size)
_EDGE_Y = np.tile(_EDGE_VALUES, _EDGE_VALUES.size)


def test_encode_matches_digit_descent(small_points):
    x, y = small_points
    for depth in (1, 3, 7, 12, 18):
        got = C.encode_cell_ids(x, y, depth)
        want = _oracle_leaf_path_ids(x, y, depth)
        assert np.array_equal(got, want), f"depth={depth}"


def test_id_depth_parent_roundtrip(small_points):
    x, y = small_points
    ids = C.encode_cell_ids(x, y, 9)
    assert np.array_equal(C.cell_depth(ids), np.full_like(ids, 9))
    assert np.array_equal(C.cell_ancestor(ids, 9), np.zeros_like(ids))
    shallower = C.encode_cell_ids(x, y, 4)
    assert np.array_equal(C.cell_ancestor(ids, 5), shallower)


def test_bbox_contains_own_points(small_points):
    x, y = small_points
    for depth in (2, 6, 11):
        ids = C.encode_cell_ids(x, y, depth)
        x1, y1, x2, y2 = C.cell_bbox(ids, depth)
        assert ((x >= x1) & (x <= x2) & (y >= y1) & (y <= y2)).all()


def test_candidates_cover_all_inclusive_containment(small_points):
    """Candidate chains must equal the brute-force closed-containment set at
    every depth (including midline/corner points from the edge pack)."""
    x, y = small_points
    x, y = x[:200], y[:200]
    depth = 6
    cand = C.candidate_cell_ids(x, y, depth)
    # brute force: enumerate ALL cells at each depth ≤ 6 … too many at 6; use
    # per-depth bins derived from the oracle tree over a coarse full grid.
    for d in range(depth + 1):
        all_ids = np.arange(4**d, dtype=np.int64)
        # absolute id of depth-d cells: offset = (4^d - 1) / 3 pattern via parents
        base = 0
        for _ in range(d):
            base = base * 4 + 1
        abs_ids = all_ids + base
        bx1, by1, bx2, by2 = C.cell_bbox(abs_ids, d)
        contains = (
            (x[:, None] >= bx1[None, :])
            & (x[:, None] <= bx2[None, :])
            & (y[:, None] >= by1[None, :])
            & (y[:, None] <= by2[None, :])
        )
        for i in range(x.shape[0]):
            want = set(abs_ids[contains[i]].tolist())
            got = set(t for t in cand[i].tolist() if t >= 0)
            got_d = {g for g in got if g >= base and g < base + 4**d}
            assert got_d == want, f"point {i} depth {d}: {got_d} != {want}"


def test_sql_expr_matches_float32_kernel(spark, small_points):
    """The exact-integer SQL form (shared with the DuckDB oracle) agrees with
    the float32 kernel for depth ≤ 10 on integer-valued coordinates."""
    import pandas as pd
    from pyspark.sql import functions as F

    x, y = small_points
    pdf = pd.DataFrame({"x": x.astype(np.float64), "y": y.astype(np.float64)})
    df = spark.createDataFrame(pdf)
    for depth in (1, 4, 8, 10):
        got = (
            df.select(F.expr(C.cell_id_sql("x", "y", depth)).alias("cid"))
            .toPandas()["cid"]
            .to_numpy()
        )
        want = C.encode_cell_ids(x, y, depth)
        assert np.array_equal(got, want), f"depth={depth}"


def test_jvm_expr_matches_float32_kernel(spark, small_points):
    """The pure-Column (codegen) encode — the hot path for depth ≤ 10 —
    agrees with the float32 kernel on adversarial inputs: exact level
    boundaries at every depth, their ±1-ULP float32 neighbors, the edge pack,
    and random integer AND non-integer coordinates, plus every pair of
    non-finite, huge and out-of-domain values (1e300 is +inf in float32)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    vals = []
    for d in range(1, 14):
        step = 1e6 / (1 << d)
        ks = rng.integers(0, 1 << d, size=16)
        b = (ks * step).astype(np.float32)
        vals += [b, np.nextafter(b, np.float32(np.inf)), np.nextafter(b, np.float32(-np.inf))]
    vals.append(rng.integers(0, 1_000_000, size=500).astype(np.float32))
    vals.append((rng.random(500) * 1e6).astype(np.float32))
    x0, y0 = small_points
    xs = np.clip(np.concatenate(vals + [x0]), 0, np.float32(999999.94))
    ys = np.clip(np.concatenate([v[::-1] for v in vals] + [y0]), 0, np.float32(999999.94))
    with np.errstate(over="ignore"):
        xs = np.concatenate([xs, _EDGE_X.astype(np.float32)])
        ys = np.concatenate([ys, _EDGE_Y.astype(np.float32)])
    # rows, not pandas: Arrow conversion would turn NaN into null
    df = spark.createDataFrame(list(zip(xs.tolist(), ys.tolist())), "x float, y float")
    for depth in range(1, 11):
        got = (
            df.select(C.cell_id_col_jvm(F.col("x"), F.col("y"), depth).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = C.encode_cell_ids(xs, ys, depth)
        assert np.array_equal(got, want), f"depth={depth}"
    # hybrid path: integer bins to depth 10 + JVM float32 descent beyond —
    # depths whose boundaries are NOT float32-representable (rounding live)
    for depth in (11, 12, 13):
        got = (
            df.select(C.cell_id_col_jvm_deep(F.col("x"), F.col("y"), depth).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        want = C.encode_cell_ids(xs, ys, depth)
        assert np.array_equal(got, want), f"hybrid depth={depth}"


def test_jvm_parity_on_raw_double_boundary_neighborhood(spark, small_points):
    """Adversarial RAW-DOUBLE inputs — NOT pre-cast to float32 — within ±half
    a float32 ULP of level boundaries at every depth (ADVICE r2). The JVM
    paths quantize to float32 FIRST (functions/cells.py _axis_bin_col
    ``cast('float').cast('double')``); an implementation comparing the raw
    double against the boundary would bin these inputs the other way, so this
    pins the quantize-first fix with inputs that reach the cast itself.
    Every pair of NaN, ±inf, ±1e300, out-of-domain and domain-edge values
    rides along: the JVM binning clamps in double before the float cast,
    so none of them overflows ceil's long (ANSI would raise)."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(23)
    vals = []
    for d in range(1, 14):
        step = 1e6 / (1 << d)  # exact in float64 for d <= 13 (1e6 = 2^6·5^6)
        b = rng.integers(1, 1 << d, size=12).astype(np.float64) * step
        ulp = np.spacing(b.astype(np.float32)).astype(np.float64)
        for f in (-0.5, -0.49, -0.25, 0.0, 0.25, 0.49, 0.5):
            vals.append(b + f * ulp)
    x0, y0 = small_points
    xs = np.clip(np.concatenate(vals + [x0.astype(np.float64)]), 0.0, 999999.9)
    ys = np.clip(
        np.concatenate([v[::-1] for v in vals] + [y0.astype(np.float64)]),
        0.0,
        999999.9,
    )
    xs, ys = np.concatenate([xs, _EDGE_X]), np.concatenate([ys, _EDGE_Y])
    # rows, not pandas: Arrow conversion would turn NaN into null
    df = spark.createDataFrame(list(zip(xs.tolist(), ys.tolist())), "x double, y double")
    assert dict(df.dtypes) == {"x": "double", "y": "double"}
    for depth in range(1, 11):
        got = (
            df.select(C.cell_id_col_jvm(F.col("x"), F.col("y"), depth).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        with np.errstate(over="ignore"):
            want = C.encode_cell_ids(xs, ys, depth)  # kernel: np.float32 cast
        assert np.array_equal(got, want), f"depth={depth}"
    for depth in (11, 12, 13):
        got = (
            df.select(C.cell_id_col_jvm_deep(F.col("x"), F.col("y"), depth).alias("c"))
            .toPandas()["c"]
            .to_numpy()
        )
        with np.errstate(over="ignore"):
            want = C.encode_cell_ids(xs, ys, depth)
        assert np.array_equal(got, want), f"hybrid depth={depth}"


def test_oracle_tree_invariants(small_points):
    x, y = small_points
    root = oracle.build_quadtree(x, y)
    rows = oracle.cells_relation(root)
    by_id = {r["cell_id"]: r for r in rows}
    # count conservation at every split (A2) + leaf bound
    for r in rows:
        if not r["is_leaf"]:
            kids = [by_id[r["cell_id"] * 4 + k] for k in (1, 2, 3, 4)]
            assert sum(k["count"] for k in kids) == r["count"]
    assert by_id[0]["count"] == x.shape[0]


def test_bbox_jvm_matches_float32_kernel(spark):
    """The pure-Column mixed-depth bbox (with_cell_bbox_jvm — the build's
    output stage for depth ≤ 13) is BIT-identical to the numpy float32
    descent kernel: exhaustive over every cell to depth 5, random samples
    including the id-range edges at 6..13, at the shallow-only (8), the
    pipeline (12) and the ceiling (13) dispatch depths. extent_ok parity is
    asserted under the same float32 comparison the kernel runs."""
    import pandas as pd
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    ids_l, ds_l = [], []
    for d in range(0, 6):
        lo, hi = (4**d - 1) // 3, (4 ** (d + 1) - 4) // 3
        ids_l.append(np.arange(lo, hi + 1, dtype=np.int64))
        ds_l.append(np.full(ids_l[-1].size, d, np.int32))
    for d in range(6, 14):
        lo, hi = (4**d - 1) // 3, (4 ** (d + 1) - 4) // 3
        ids_l.append(
            np.unique(np.concatenate([rng.integers(lo, hi + 1, 1500), [lo, hi]]))
        )
        ds_l.append(np.full(ids_l[-1].size, d, np.int32))
    ids = np.concatenate(ids_l)
    ds = np.concatenate(ds_l)

    exp = {k: np.empty(ids.size, np.float32) for k in ("x1", "y1", "x2", "y2")}
    for d in np.unique(ds):
        m = ds == d
        exp["x1"][m], exp["y1"][m], exp["x2"][m], exp["y2"][m] = C.cell_bbox(
            ids[m], int(d), DOMAIN
        )
    exp_ok = (np.abs(exp["x1"] - exp["x2"]) >= np.float32(5.0)) | (
        np.abs(exp["y1"] - exp["y2"]) >= np.float32(5.0)
    )

    for max_depth in (8, 12, 13):
        sel = ds <= max_depth
        df = spark.createDataFrame(
            pd.DataFrame({"cell_id": ids[sel], "depth": ds[sel]})
        )
        got = (
            C.with_cell_bbox_jvm(df, max_depth, DOMAIN, 5.0)
            .select("cell_id", "g.min_x", "g.min_y", "g.max_x", "g.max_y", "g.extent_ok")
            .orderBy("cell_id")
            .toPandas()
        )
        order = np.argsort(ids[sel], kind="stable")
        assert np.array_equal(got["min_x"].to_numpy(np.float32), exp["x1"][sel][order])
        assert np.array_equal(got["min_y"].to_numpy(np.float32), exp["y1"][sel][order])
        assert np.array_equal(got["max_x"].to_numpy(np.float32), exp["x2"][sel][order])
        assert np.array_equal(got["max_y"].to_numpy(np.float32), exp["y2"][sel][order])
        assert np.array_equal(got["extent_ok"].to_numpy(bool), exp_ok[sel][order])


def test_bbox_jvm_rejects_staged_name_collision(spark):
    """A caller column named like one of with_cell_bbox_jvm's staged _bb_*
    columns raises instead of being silently overwritten and dropped."""
    df = spark.createDataFrame([(5, 1, 2.5)], "cell_id long, depth int, _bb_row double")
    with pytest.raises(ValueError, match="_bb_row"):
        C.with_cell_bbox_jvm(df, 8)
