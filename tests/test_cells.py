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


# the domains every JVM-vs-kernel parity test runs on: the reference
# domain, where the exact integer prefix reaches depth 10, and two others
# (a non-square one and a lon/lat box), whose descent starts at the root
OTHER_DOMAINS = ((0, 0, 1_000_003, 777_777), (-180, -90, 180, 90))
PARITY_DOMAINS = (DOMAIN,) + OTHER_DOMAINS


def _assert_encode_parity(spark, xs, ys, dtype, domain):
    """with_cell_id equals encode_cell_ids on the rows (xs, ys) at every
    depth 0..18 (rows, not pandas: Arrow conversion would turn NaN into
    null)."""
    df = spark.createDataFrame(list(zip(xs.tolist(), ys.tolist())), f"x {dtype}, y {dtype}")
    assert dict(df.dtypes) == {"x": dtype, "y": dtype}
    for depth in range(0, 19):
        got = C.with_cell_id(df, depth, domain=domain).toPandas()["cell_id"].to_numpy()
        with np.errstate(over="ignore"):
            want = C.encode_cell_ids(xs, ys, depth, domain)  # kernel: np.float32 cast
        assert np.array_equal(got, want), f"domain={domain} depth={depth}"


def test_jvm_expr_matches_float32_kernel(spark, small_points):
    """The encode (with_cell_id: exact integer prefix, then the staged JVM
    float32 descent) agrees with the float32 kernel at depths 0..18 on
    three domains, on adversarial inputs: exact level boundaries at every
    depth, their ±1-ULP float32 neighbors, the edge pack (scaled into the
    domain), and random integer AND non-integer coordinates, plus every
    pair of non-finite, huge and out-of-domain values (1e300 is +inf in
    float32)."""
    x0, y0 = small_points
    for domain in PARITY_DOMAINS:
        rng = np.random.default_rng(7)
        axes = []
        for lo, hi in ((domain[0], domain[2]), (domain[1], domain[3])):
            vals = []
            for d in range(1, 19):
                step = (hi - lo) / (1 << d)
                b = (lo + rng.integers(0, 1 << d, size=16) * step).astype(np.float32)
                vals += [b, np.nextafter(b, np.float32(np.inf)), np.nextafter(b, np.float32(-np.inf))]
            vals.append((lo + rng.integers(0, int(hi - lo), size=500)).astype(np.float32))
            vals.append((lo + rng.random(500) * (hi - lo)).astype(np.float32))
            vals.append((lo + x0.astype(np.float64) * ((hi - lo) / 1e6)).astype(np.float32))
            top = np.nextafter(np.float32(hi), np.float32(-np.inf))
            axes.append(np.clip(np.concatenate(vals), np.float32(lo), top))
        xs, ys = axes[0], axes[1][::-1]
        with np.errstate(over="ignore"):
            xs = np.concatenate([xs, _EDGE_X.astype(np.float32)])
            ys = np.concatenate([ys, _EDGE_Y.astype(np.float32)])
        _assert_encode_parity(spark, xs, ys, "float", domain)


def test_jvm_parity_on_raw_double_boundary_neighborhood(spark, small_points):
    """Adversarial RAW-DOUBLE inputs — NOT pre-cast to float32 — within ±half
    a float32 ULP of level boundaries at depths 1..18, on three domains
    (ADVICE r2). The encode quantizes to float32 FIRST (``_axis_bin_col``'s
    ``cast('float').cast('double')`` in the exact prefix, ``cast('float')``
    in the descent); an implementation comparing the raw double against the
    boundary would bin these inputs the other way, so this pins the
    quantize-first rule with inputs that reach the cast itself. Every pair
    of NaN, ±inf, ±1e300, out-of-domain and domain-edge values rides along:
    the JVM binning clamps in double before the float cast, so none of them
    overflows ceil's long (ANSI would raise)."""
    x0, y0 = small_points
    for domain in PARITY_DOMAINS:
        rng = np.random.default_rng(23)
        axes = []
        for (lo, hi), c0 in (((domain[0], domain[2]), x0), ((domain[1], domain[3]), y0)):
            vals = []
            for d in range(1, 19):
                step = (hi - lo) / (1 << d)  # exact in float64: a power-of-two scaling
                b = lo + rng.integers(1, 1 << d, size=12).astype(np.float64) * step
                ulp = np.spacing(b.astype(np.float32)).astype(np.float64)
                for f in (-0.5, -0.49, -0.25, 0.0, 0.25, 0.49, 0.5):
                    vals.append(b + f * ulp)
            vals.append(lo + c0.astype(np.float64) * ((hi - lo) / 1e6))
            axes.append(np.clip(np.concatenate(vals), lo, hi - (hi - lo) * 1e-7))
        xs, ys = axes[0], axes[1][::-1]
        xs, ys = np.concatenate([xs, _EDGE_X]), np.concatenate([ys, _EDGE_Y])
        _assert_encode_parity(spark, xs, ys, "double", domain)


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
    """The mixed-depth bbox (with_cell_bbox — the build's only bbox) is
    BIT-identical to the numpy float32 descent kernel: exhaustive over every
    cell to depth 5, random samples including the id-range edges at
    6..18, at max depths 8 (exact prefix only), 12, 13 and 18 on the
    reference domain and 8 and 18 on a non-square one (descent from the
    root). extent_ok parity is asserted under the same float32 comparison
    the kernel runs."""
    import pandas as pd

    rng = np.random.default_rng(7)
    ids_l, ds_l = [], []
    for d in range(0, 6):
        lo, hi = (4**d - 1) // 3, (4 ** (d + 1) - 4) // 3
        ids_l.append(np.arange(lo, hi + 1, dtype=np.int64))
        ds_l.append(np.full(ids_l[-1].size, d, np.int32))
    for d in range(6, 19):
        lo, hi = (4**d - 1) // 3, (4 ** (d + 1) - 4) // 3
        ids_l.append(
            np.unique(np.concatenate([rng.integers(lo, hi + 1, 1500), [lo, hi]]))
        )
        ds_l.append(np.full(ids_l[-1].size, d, np.int32))
    ids = np.concatenate(ids_l)
    ds = np.concatenate(ds_l)

    for domain, max_depths in ((DOMAIN, (8, 12, 13, 18)), (OTHER_DOMAINS[0], (8, 18))):
        exp = {k: np.empty(ids.size, np.float32) for k in ("x1", "y1", "x2", "y2")}
        for d in np.unique(ds):
            m = ds == d
            exp["x1"][m], exp["y1"][m], exp["x2"][m], exp["y2"][m] = C.cell_bbox(
                ids[m], int(d), domain
            )
        exp_ok = (np.abs(exp["x1"] - exp["x2"]) >= np.float32(5.0)) | (
            np.abs(exp["y1"] - exp["y2"]) >= np.float32(5.0)
        )
        for max_depth in max_depths:
            sel = ds <= max_depth
            df = spark.createDataFrame(
                pd.DataFrame({"cell_id": ids[sel], "depth": ds[sel]})
            )
            got = (
                C.with_cell_bbox(df, max_depth, domain, 5.0)
                .select("cell_id", "g.min_x", "g.min_y", "g.max_x", "g.max_y", "g.extent_ok")
                .orderBy("cell_id")
                .toPandas()
            )
            order = np.argsort(ids[sel], kind="stable")
            where = f"domain={domain} max_depth={max_depth}"
            for col, key in (("min_x", "x1"), ("min_y", "y1"), ("max_x", "x2"), ("max_y", "y2")):
                assert np.array_equal(
                    got[col].to_numpy(np.float32), exp[key][sel][order]
                ), (where, col)
            assert np.array_equal(got["extent_ok"].to_numpy(bool), exp_ok[sel][order]), where


def test_bbox_jvm_rejects_staged_name_collision(spark):
    """A caller column named like one of with_cell_bbox's staged _bb_*
    columns, or one of with_cell_id's staged _ci_* columns, raises instead
    of being silently overwritten and dropped."""
    df = spark.createDataFrame([(5, 1, 2.5)], "cell_id long, depth int, _bb_row double")
    with pytest.raises(ValueError, match="_bb_row"):
        C.with_cell_bbox(df, 8)
    pts = spark.createDataFrame([(1.0, 2.0, 3.0)], "x double, y double, _ci_x2 double")
    for domain, depth in ((DOMAIN, 12), (OTHER_DOMAINS[0], 3)):
        with pytest.raises(ValueError, match="_ci_x2"):
            C.with_cell_id(pts, depth, domain=domain)
    # through the exact prefix no column is staged, so none can collide
    assert C.with_cell_id(pts, 10).columns == ["x", "y", "_ci_x2", "cell_id"]
