"""Hierarchical cell (quadkey) index — the engine's rendering of the
reference's adaptive-quadtree grid ids.

The reference assigns node ids ``child = parent*4 + {1=BL,2=BR,3=TL,4=TR}``
with root 0 (/root/reference/cuda/kernels.cu:517-537) and categorizes a point
against the node midpoint with ``<=`` going left/bottom
(/root/reference/cuda/kernels.cu:54-78); midpoints are computed in float32 as
``(x1+x2)/2`` (/root/reference/cuda/create_grid.cu:74). That id scheme IS a
base-4 quadkey: the id at depth d is a pure function of (x, y) because the
bbox subdivision is data-independent — only the *stop* decision is
data-driven. This module provides:

- numpy kernels (float32-faithful) used by Arrow-vectorized pandas UDFs:
  ``encode_cell_ids``, ``cell_bbox``, ``candidate_cell_ids``;
- pure-Column twins of the encode and bbox kernels (``cell_id_col_jvm*``,
  ``with_cell_bbox_jvm``), chosen by depth — whole-stage codegen through
  depth 13, the Arrow kernel deeper — and bit-identical to the kernels;
  search candidates (``candidate_cells_col``) have the kernel form only;
- SQL expression generators (exact integer arithmetic, valid for depth ≤ 10
  where the float32 midpoints are exactly representable) that run
  identically on Spark and DuckDB for the oracle cross-checks.

Ids are unique ACROSS depths: depth-d ids live in
``[(4^d-1)/3, (4^(d+1)-4)/3]`` (all-1s digits .. all-4s digits — disjoint
ranges, each depth's min is the previous max + 1; property-tested in
tests/test_properties.py), so ``cell_id`` alone keys a node;
``parent = (id-1) div 4``.
"""

from __future__ import annotations

from typing import Callable, TypeVar

import numpy as np
import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, functions as F
from pyspark.sql.types import ArrayType, LongType

from .. import DOMAIN, MAX_DEPTH

_T = TypeVar("_T")


def cached_column(key: tuple, build: Callable[[], _T]) -> _T:
    """``build()`` — a Column tree, or a container of them — rendered once
    per SparkContext and ``key``, then shared by every later caller.

    Each Column operator is one py4j round trip, so the deep trees of the
    quadtree build (the depth-12 encode, ancestor chains, the bbox stages,
    the geotag) cost thousands of them — seconds of driver time per plan
    before any job starts. A cached tree must be alias-free and hold no
    Python UDF: an Alias or a PythonUDF carries one fixed exprId into every
    plan that reuses it, so callers alias at the use site. ``key`` names
    everything that shapes the tree: column names, depth, domain,
    thresholds."""
    sc = SparkContext._active_spark_context
    if sc is None:
        return build()
    cache = sc.__dict__.setdefault("_graft_column_cache", {})
    if key not in cache:
        cache[key] = build()
    return cache[key]

# ---------------------------------------------------------------------------
# numpy kernels (float32, reference-exact)
# ---------------------------------------------------------------------------


def encode_cell_ids(
    x: np.ndarray,
    y: np.ndarray,
    depth: int,
    domain: tuple[float, float, float, float] = DOMAIN,
) -> np.ndarray:
    """Cell id at ``depth`` for each point, reference digit rule.

    Vectorized level-synchronous descent: per level compute the float32
    midpoint of each point's current box, pick the quadrant with the
    ``<=`` convention of categorize_points (cuda/kernels.cu:58-75), append
    the digit (+1..4), and shrink the box — exactly the recursion of
    quadtree_grid (cuda/create_grid.cu:147-155) minus the data-dependent stop.
    """
    x = np.asarray(x, dtype=np.float32)
    y = np.asarray(y, dtype=np.float32)
    n = x.shape[0]
    x1 = np.full(n, domain[0], np.float32)
    y1 = np.full(n, domain[1], np.float32)
    x2 = np.full(n, domain[2], np.float32)
    y2 = np.full(n, domain[3], np.float32)
    ids = np.zeros(n, dtype=np.int64)
    for _ in range(depth):
        mx = (x1 + x2) / np.float32(2)
        my = (y1 + y2) / np.float32(2)
        right = x > mx
        top = y > my
        ids = ids * 4 + (top.astype(np.int64) * 2 + right.astype(np.int64)) + 1
        x1 = np.where(right, mx, x1)
        x2 = np.where(right, x2, mx)
        y1 = np.where(top, my, y1)
        y2 = np.where(top, y2, my)
    return ids


def cell_depth(ids: np.ndarray) -> np.ndarray:
    """Depth from id alone (id ranges are disjoint per depth)."""
    ids = np.asarray(ids, dtype=np.int64)
    d = np.zeros_like(ids)
    cur = ids.copy()
    while True:
        deeper = cur > 0
        if not deeper.any():
            break
        cur = np.where(deeper, (cur - 1) // 4, cur)
        d += deeper.astype(np.int64)
    return d


def cell_parent(ids: np.ndarray) -> np.ndarray:
    ids = np.asarray(ids, dtype=np.int64)
    return (ids - 1) // 4


def cell_ancestor(ids: np.ndarray, levels_up: int) -> np.ndarray:
    out = np.asarray(ids, dtype=np.int64)
    for _ in range(levels_up):
        out = (out - 1) // 4
    return out


def cell_digits(ids: np.ndarray, depth: int) -> np.ndarray:
    """(n, depth) root-first digits 1..4 of each id (all ids at ``depth``)."""
    ids = np.asarray(ids, dtype=np.int64)
    out = np.empty((ids.shape[0], depth), dtype=np.int64)
    cur = ids.copy()
    for d in range(depth - 1, -1, -1):
        out[:, d] = (cur - 1) % 4 + 1
        cur = (cur - 1) // 4
    return out


def cell_to_colrow(ids: np.ndarray, depth: int) -> tuple[np.ndarray, np.ndarray]:
    """(col, row) grid coordinates of same-depth cells (col 0 = left/BL side,
    row 0 = bottom): inverse digit interleave."""
    digs = cell_digits(np.asarray(ids, dtype=np.int64), depth)
    col = np.zeros(digs.shape[0], dtype=np.int64)
    row = np.zeros(digs.shape[0], dtype=np.int64)
    for d in range(depth):
        k = digs[:, d] - 1
        col = col * 2 + (k % 2)
        row = row * 2 + (k // 2)
    return col, row


def colrow_to_cell(col: np.ndarray, row: np.ndarray, depth: int) -> np.ndarray:
    """Inverse of cell_to_colrow (inputs must be within [0, 2^depth))."""
    col = np.asarray(col, dtype=np.int64)
    row = np.asarray(row, dtype=np.int64)
    ids = np.zeros(col.shape[0], dtype=np.int64)
    for d in range(depth - 1, -1, -1):
        cb = (col >> d) & 1
        rb = (row >> d) & 1
        ids = ids * 4 + rb * 2 + cb + 1
    return ids


def neighbor_ring(ids: np.ndarray, depth: int, radius: int = 1) -> np.ndarray:
    """(n, (2r+1)²) same-depth neighbor cell ids (incl. self); -1 where the
    neighbor falls outside the domain grid."""
    col, row = cell_to_colrow(ids, depth)
    size = 1 << depth
    offs = np.arange(-radius, radius + 1, dtype=np.int64)
    dc, dr = np.meshgrid(offs, offs, indexing="ij")
    nc = col[:, None] + dc.ravel()[None, :]
    nr = row[:, None] + dr.ravel()[None, :]
    valid = (nc >= 0) & (nc < size) & (nr >= 0) & (nr < size)
    out = np.full(nc.shape, -1, dtype=np.int64)
    flat_c, flat_r = nc[valid], nr[valid]
    out[valid] = colrow_to_cell(flat_c, flat_r, depth)
    return out


def cell_bbox(
    ids: np.ndarray,
    depth: int,
    domain: tuple[float, float, float, float] = DOMAIN,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """float32 bbox of each cell id (all at the same ``depth``): replays the
    recursion bboxes of cuda/create_grid.cu:147-155 digit by digit."""
    ids = np.asarray(ids, dtype=np.int64)
    n = ids.shape[0]
    x1 = np.full(n, domain[0], np.float32)
    y1 = np.full(n, domain[1], np.float32)
    x2 = np.full(n, domain[2], np.float32)
    y2 = np.full(n, domain[3], np.float32)
    if depth == 0:
        return x1, y1, x2, y2
    digs = cell_digits(ids, depth)
    for d in range(depth):
        k = digs[:, d] - 1  # 0=BL,1=BR,2=TL,3=TR
        mx = (x1 + x2) / np.float32(2)
        my = (y1 + y2) / np.float32(2)
        right = (k % 2) == 1
        top = (k // 2) == 1
        x1 = np.where(right, mx, x1)
        x2 = np.where(right, x2, mx)
        y1 = np.where(top, my, y1)
        y2 = np.where(top, y2, my)
    return x1, y1, x2, y2


def candidate_cell_ids(
    x: np.ndarray,
    y: np.ndarray,
    max_depth: int = MAX_DEPTH,
    domain: tuple[float, float, float, float] = DOMAIN,
) -> np.ndarray:
    """All cell ids whose CLOSED bbox contains each point, depths 0..max_depth.

    quadrant_search containment is inclusive on every edge
    (cuda/kernels.cu:152-155), so a point exactly on a shared cell edge lies
    in up to 4 boxes per depth. The containing set per depth equals the cross
    product of ≤2 x-chains × ≤2 y-chains, obtained by running the descent
    under both tie-break rules per axis (``<=`` goes left — the reference
    categorize rule — vs ``<`` goes left). Returns (n, 4*(max_depth+1)) int64
    with duplicates (the caller dedups relationally) and -1 for points
    outside the closed domain.
    """
    x = np.asarray(x, dtype=np.float32)
    y = np.asarray(y, dtype=np.float32)
    n = x.shape[0]
    in_domain = (
        (x >= np.float32(domain[0]))
        & (x <= np.float32(domain[2]))
        & (y >= np.float32(domain[1]))
        & (y <= np.float32(domain[3]))
    )
    out = np.full((n, 4 * (max_depth + 1)), -1, dtype=np.int64)
    chain = 0
    for x_le_left in (True, False):
        for y_le_left in (True, False):
            x1 = np.full(n, domain[0], np.float32)
            y1 = np.full(n, domain[1], np.float32)
            x2 = np.full(n, domain[2], np.float32)
            y2 = np.full(n, domain[3], np.float32)
            ids = np.zeros(n, dtype=np.int64)
            base = chain * (max_depth + 1)
            out[:, base] = np.where(in_domain, ids, -1)
            for d in range(max_depth):
                mx = (x1 + x2) / np.float32(2)
                my = (y1 + y2) / np.float32(2)
                right = (x > mx) if x_le_left else (x >= mx)
                top = (y > my) if y_le_left else (y >= my)
                ids = ids * 4 + (top.astype(np.int64) * 2 + right.astype(np.int64)) + 1
                x1 = np.where(right, mx, x1)
                x2 = np.where(right, x2, mx)
                y1 = np.where(top, my, y1)
                y2 = np.where(top, y2, my)
                out[:, base + d + 1] = np.where(in_domain, ids, -1)
            chain += 1
    return out


# ---------------------------------------------------------------------------
# pandas UDF wrappers (Arrow-vectorized; the engine's "kernel launch")
# ---------------------------------------------------------------------------


# Depth bound for the pure-JVM encode: level boundaries k·1e6/2^d need
# 14+d mantissa bits (1e6 = 2^6·5^6), so they are exact in float32 — and the
# iterative float32 midpoint descent therefore lossless — iff d ≤ 10.
_EXACT_JVM_DEPTH = 10


def _axis_bin_col(c, depth: int, lo: float, hi: float):
    """JVM bin index along one axis at ``depth`` under the reference's ``<=``
    rule (a point exactly on an interior boundary goes left/bottom):
    bin = clamp(ceil((x-lo)·2^d/(hi-lo)) - 1, 0, 2^d-1). Exact while the
    boundaries are exactly representable (see _EXACT_JVM_DEPTH): on-boundary
    inputs hit the ceil integer exactly, off-boundary inputs are ≥ 1 float32
    ULP away, far beyond double rounding error.

    The input is quantized to float32 FIRST (cast float → double) so this JVM
    path shares the Arrow kernel's float32 input semantics: a double within
    half a float32 ULP of a level boundary must round ONTO the boundary (and
    go left) exactly as the kernel's np.float32 cast does.

    Total on every double, as ``encode_cell_ids`` is: the scaled value is
    clamped into [0, 2^d] in double before ``ceil`` (whose long result
    would overflow on ±inf), and NaN maps to 0 — numpy's comparisons with
    NaN are false, so the kernel sends it left/bottom. So NaN bins to 0 and
    ±inf or any out-of-domain value to the edge bin. The clamp sits after
    the scaling, not on the input, to keep the expression small: the deep
    encode's nested descent branches copy the bins many times."""
    n = 1 << depth
    cq = c.cast("float").cast("double")
    scaled = (cq - F.lit(float(lo))) * F.lit(float(n)) / F.lit(float(hi - lo))
    inside = F.least(F.greatest(F.nanvl(scaled, F.lit(0.0)), F.lit(0.0)), F.lit(float(n)))
    return F.greatest(F.ceil(inside) - F.lit(1), F.lit(0))


def cell_id_col_jvm(xcol, ycol, depth: int, domain=DOMAIN):
    """Pure-Column cell id (whole-stage-codegen, no Python workers): compute
    the final (col, row) bins once, then bit-interleave into the reference's
    base-4 id (id_d = id_{d-1}·4 + row_bit·2 + col_bit + 1). Per-level bins
    are prefixes of the final bin (boundaries nest), so one ceil per axis
    suffices — expression size is linear in depth."""
    if depth == 0:
        return F.lit(0).cast("long")
    col = _axis_bin_col(xcol, depth, domain[0], domain[2])
    row = _axis_bin_col(ycol, depth, domain[1], domain[3])
    return _interleave_colrow(col, row, depth)


# Hybrid ceiling: each float32 descent level past depth 10 roughly triples
# the Column expression tree (box columns nest through when()); 3 extra
# levels stay well under codegen limits, deeper goes to the Arrow kernel.
_HYBRID_JVM_MAX_DEPTH = 13


def _f32(v: float):
    return F.lit(float(np.float32(v))).cast("float")


def cell_id_col_jvm_deep(xcol, ycol, depth: int, domain=DOMAIN):
    """Pure-Column encode for depth 11..13: exact integer bins give the
    depth-10 id AND its bbox (both float32-exact), then the remaining levels
    replay the reference's float32 midpoint descent with genuine FloatType
    Column arithmetic — Spark's float add/multiply/compare are JVM float ops,
    bit-identical to the C kernel's. Valid because every midpoint the kernel
    computes at depths ≤ 10 is exact, so starting the descent from the exact
    depth-10 box reproduces its state."""
    base = _EXACT_JVM_DEPTH
    col = _axis_bin_col(xcol, base, domain[0], domain[2])
    row = _axis_bin_col(ycol, base, domain[1], domain[3])
    cid = _interleave_colrow(col, row, base)
    step_x = (domain[2] - domain[0]) / (1 << base)
    step_y = (domain[3] - domain[1]) / (1 << base)
    x1 = (col.cast("double") * F.lit(step_x) + F.lit(float(domain[0]))).cast("float")
    x2 = ((col + 1).cast("double") * F.lit(step_x) + F.lit(float(domain[0]))).cast("float")
    y1 = (row.cast("double") * F.lit(step_y) + F.lit(float(domain[1]))).cast("float")
    y2 = ((row + 1).cast("double") * F.lit(step_y) + F.lit(float(domain[1]))).cast("float")
    xf = F.nanvl(xcol.cast("float"), _f32(domain[0]))
    yf = F.nanvl(ycol.cast("float"), _f32(domain[1]))
    half = _f32(0.5)
    for _ in range(depth - base):
        mx = (x1 + x2) * half
        my = (y1 + y2) * half
        right = xf > mx
        top = yf > my
        cid = (
            cid * 4
            + top.cast("long") * 2
            + right.cast("long")
            + F.lit(1)
        )
        x1 = F.when(right, mx).otherwise(x1)
        x2 = F.when(right, x2).otherwise(mx)
        y1 = F.when(top, my).otherwise(y1)
        y2 = F.when(top, y2).otherwise(my)
    return cid


def cell_id_col(x: str | Column, y: str | Column, depth: int, domain=DOMAIN) -> Column:
    """Column: reference cell id at ``depth`` (float32-faithful) of the
    point columns ``x``/``y`` — names, or Columns.

    Dispatch: depth ≤ 10 → exact integer arithmetic in the JVM (codegen'd,
    proven equal to the float32 kernel — see test_cells parity tests);
    depth ≤ 13 → integer bins to depth 10 + JVM float32 descent for the rest;
    deeper → Arrow-vectorized numpy replay of the float32 midpoint descent
    (the only faithful route once the expression tree would outgrow codegen).
    The JVM trees of named columns are cached (``cached_column``)."""
    if tuple(domain) == tuple(DOMAIN) and depth <= _HYBRID_JVM_MAX_DEPTH:
        enc = cell_id_col_jvm if depth <= _EXACT_JVM_DEPTH else cell_id_col_jvm_deep

        def build() -> Column:
            return enc(*(F.col(c) if isinstance(c, str) else c for c in (x, y)), depth, domain)

        if isinstance(x, str) and isinstance(y, str):
            return cached_column(("cell_id", x, y, depth, tuple(domain)), build)
        return build()

    @F.pandas_udf(LongType())
    def _enc(xs: pd.Series, ys: pd.Series) -> pd.Series:
        return pd.Series(encode_cell_ids(xs.to_numpy(), ys.to_numpy(), depth, domain))

    return _enc(x, y)


def neighbor_ring_col(idcol, depth: int, radius: int = 1):
    """Column: array<long> of same-depth ring neighbors (incl. self; -1 where
    outside the grid) — the kNN candidate generator's expansion step."""

    @F.pandas_udf(ArrayType(LongType()))
    def _ring(ids: pd.Series) -> pd.Series:
        arr = neighbor_ring(ids.to_numpy(np.int64), depth, radius)
        return pd.Series(list(arr))

    return _ring(idcol)


def _interleave_colrow(col, row, depth: int):
    """Base-4 id of the (col, row) cell at ``depth`` (bit interleave)."""
    cid = F.lit(0).cast("long")
    for level in range(1, depth + 1):
        shift = depth - level
        digit = (
            F.shiftright(row, shift).bitwiseAND(F.lit(1)) * 2
            + F.shiftright(col, shift).bitwiseAND(F.lit(1))
            + F.lit(1)
        )
        cid = cid + digit.cast("long") * F.lit(4**shift)
    return cid


def with_cell_bbox_jvm(df, max_depth: int, domain=DOMAIN, min_distance: float = 5.0,
                       id_col: str = "cell_id", depth_col: str = "depth",
                       out: str = "g"):
    """Attach a pure-Column float32 bbox + extent-flag struct ``out`` for
    MIXED-depth cell rows (depth ≤ ``max_depth`` ≤ 13 on the reference
    domain) — the JVM twin of ``bbox_struct_col``'s numpy kernel,
    bit-identical by the same two-part argument as ``cell_id_col_jvm_deep``:

    - depth ≤ 10: every box edge the float32 descent produces is the exact
      boundary ``k·(hi-lo)/2^d`` (float32-representable iff d ≤ 10 — the
      ``_axis_bin_col`` lemma), and the double product ``k·step`` is exact
      (≤ 24 significand bits), so computing the edge directly from the
      cell's (col, row) bins and casting to float reproduces the descent.
    - depth 11..13: start from the exact depth-10 prefix box and replay the
      remaining ≤ 3 levels as genuine FloatType arithmetic — JVM float
      add/multiply are IEEE single, the same ops the numpy kernel runs —
      with the branch at each level taken from the cell's own digit bits.

    The digit value ``v = id - (4^d-1)/3`` has base-4 digits ``k_i - 1 =
    top_bit·2 + right_bit`` (root-first), so one de-interleave of v's
    even/odd bits yields (col, row) at the row's own depth, uniformly for
    every depth in the batch — no per-depth CASE chain. All intermediate
    integer arithmetic is exact in doubles (4^13 < 2^26 ≪ 2^53).

    DataFrame-level (not a bare Column) deliberately: the de-interleave and
    each descent level are STAGED as real projection columns. Field
    extraction on an inline struct is rewritten to the struct child
    (SimplifyExtractValueOps), which would clone the whole integer subtree
    into every one of the six consumers — measured 3.5× slower than the
    Arrow kernel it was meant to beat; with the stages materialized as
    attributes (CollapseProject keeps projections with multiply-referenced
    non-trivial aliases apart), each consumer is a few ops on shared
    locals and the stage stays a single WholeStageCodegen span. Parity with
    the numpy kernel is pytest-pinned (tests/test_cells.py::test_bbox_jvm_*).
    Staged column names are dropped before returning; ``out`` is the only
    added column, and an input column named like a staged one raises
    ``ValueError`` rather than being overwritten and dropped. The stage
    Columns are cached per SparkContext (``cached_column``)."""
    stages, bbox = cached_column(
        ("cell_bbox", id_col, depth_col, max_depth, tuple(domain), float(min_distance)),
        lambda: _cell_bbox_stages(id_col, depth_col, max_depth, domain, min_distance),
    )
    staged = list(dict.fromkeys(name for stage in stages for name in stage))
    clash = [name for name in staged if name in df.columns]
    if clash:
        raise ValueError(
            f"input columns {clash!r} collide with with_cell_bbox_jvm's staged "
            "columns; rename them"
        )
    for stage in stages:
        df = df.withColumns(stage)
    return df.withColumn(out, bbox).drop(*staged)


def _cell_bbox_stages(id_col: str, depth_col: str, max_depth: int, domain,
                      min_distance: float) -> tuple[list[dict[str, Column]], Column]:
    """with_cell_bbox_jvm's staged projections, in order, and the final
    bbox struct over them (alias-free, so cacheable)."""
    lo_x, lo_y, hi_x, hi_y = (float(domain[i]) for i in range(4))
    d = F.col(depth_col).cast("int")
    base = (F.pow(F.lit(4.0), d.cast("double")) - F.lit(1.0)) / F.lit(3.0)
    v = F.col(id_col).cast("long") - base.cast("long")
    col = F.lit(0).cast("long")
    row = F.lit(0).cast("long")
    for i in range(max_depth):
        col = col + F.shiftright(v, 2 * i).bitwiseAND(F.lit(1)) * F.lit(1 << i)
        row = row + F.shiftright(v, 2 * i + 1).bitwiseAND(F.lit(1)) * F.lit(1 << i)
    stages = [{"_bb_col": col, "_bb_row": row}]
    col, row = F.col("_bb_col"), F.col("_bb_row")

    # shallow (depth ≤ 10): exact edges straight from the bins
    inv = F.pow(F.lit(2.0), -d.cast("double"))  # exact 2^-d
    sx = F.lit(hi_x - lo_x) * inv
    sy = F.lit(hi_y - lo_y) * inv
    shallow = {
        "_bb_sx1": (col.cast("double") * sx + F.lit(lo_x)).cast("float"),
        "_bb_sx2": ((col + 1).cast("double") * sx + F.lit(lo_x)).cast("float"),
        "_bb_sy1": (row.cast("double") * sy + F.lit(lo_y)).cast("float"),
        "_bb_sy2": ((row + 1).cast("double") * sy + F.lit(lo_y)).cast("float"),
    }

    if max_depth > _EXACT_JVM_DEPTH:
        # deep (11..13): exact depth-10 prefix box + float32 descent by digits
        b = _EXACT_JVM_DEPTH
        pshift = F.pow(F.lit(2.0), (d - F.lit(b)).cast("double"))
        col10 = F.floor(col.cast("double") / pshift).cast("long")
        row10 = F.floor(row.cast("double") / pshift).cast("long")
        s10x, s10y = (hi_x - lo_x) / (1 << b), (hi_y - lo_y) / (1 << b)
        stages.append({
            **shallow,
            "_bb_x1": (col10.cast("double") * F.lit(s10x) + F.lit(lo_x)).cast("float"),
            "_bb_x2": ((col10 + 1).cast("double") * F.lit(s10x) + F.lit(lo_x)).cast("float"),
            "_bb_y1": (row10.cast("double") * F.lit(s10y) + F.lit(lo_y)).cast("float"),
            "_bb_y2": ((row10 + 1).cast("double") * F.lit(s10y) + F.lit(lo_y)).cast("float"),
        })
        half = _f32(0.5)
        for j in range(1, max_depth - b + 1):
            active = d >= F.lit(b + j)
            lshift = F.pow(F.lit(2.0), (d - F.lit(b + j)).cast("double"))
            right = F.floor(col.cast("double") / lshift).cast("long").bitwiseAND(F.lit(1)) == 1
            top = F.floor(row.cast("double") / lshift).cast("long").bitwiseAND(F.lit(1)) == 1
            x1, x2 = F.col("_bb_x1"), F.col("_bb_x2")
            y1, y2 = F.col("_bb_y1"), F.col("_bb_y2")
            mx = (x1 + x2) * half
            my = (y1 + y2) * half
            stages.append({
                "_bb_x1": F.when(active & right, mx).otherwise(x1),
                "_bb_x2": F.when(active & ~right, mx).otherwise(x2),
                "_bb_y1": F.when(active & top, my).otherwise(y1),
                "_bb_y2": F.when(active & ~top, my).otherwise(y2),
            })
        deep = d > F.lit(b)
        x1 = F.when(deep, F.col("_bb_x1")).otherwise(F.col("_bb_sx1"))
        x2 = F.when(deep, F.col("_bb_x2")).otherwise(F.col("_bb_sx2"))
        y1 = F.when(deep, F.col("_bb_y1")).otherwise(F.col("_bb_sy1"))
        y2 = F.when(deep, F.col("_bb_y2")).otherwise(F.col("_bb_sy2"))
    else:
        stages.append(shallow)
        x1, x2 = F.col("_bb_sx1"), F.col("_bb_sx2")
        y1, y2 = F.col("_bb_sy1"), F.col("_bb_sy2")

    # final coordinates staged once more so the six struct-field consumers
    # (4 floats + extent_ok + is_leaf downstream) share them as attributes
    stages.append({"_bb_fx1": x1, "_bb_fy1": y1, "_bb_fx2": x2, "_bb_fy2": y2})
    fx1, fy1 = F.col("_bb_fx1"), F.col("_bb_fy1")
    fx2, fy2 = F.col("_bb_fx2"), F.col("_bb_fy2")
    mdf = _f32(min_distance)
    extent_ok = (F.abs(fx1 - fx2) >= mdf) | (F.abs(fy1 - fy2) >= mdf)
    bbox = F.named_struct(
        F.lit("min_x"), fx1,
        F.lit("min_y"), fy1,
        F.lit("max_x"), fx2,
        F.lit("max_y"), fy2,
        F.lit("extent_ok"), extent_ok,
    )
    return stages, bbox


def candidate_cells_col(xcol, ycol, max_depth: int = MAX_DEPTH, domain=DOMAIN):
    """Column: array<long> of closed-containment candidate ids (with dups),
    from the float32 double-descent kernel ``candidate_cell_ids`` at any
    depth. Per query it ships ~300 B across the Arrow boundary and the plan
    compiles in ms; a pure-Column rendering of the same set costs ~2 s of
    Janino compile on every fresh plan (r6: 0.88 s vs 0.21 s per search)."""

    @F.pandas_udf(ArrayType(LongType()))
    def _cand(xs: pd.Series, ys: pd.Series) -> pd.Series:
        arr = candidate_cell_ids(xs.to_numpy(), ys.to_numpy(), max_depth, domain)
        return pd.Series(list(arr))

    return _cand(xcol, ycol)


# ---------------------------------------------------------------------------
# Shared Spark/DuckDB SQL expression generators (exact integer arithmetic).
#
# Valid while the level boundaries k*1e6/2^d are exactly representable, i.e.
# depth ≤ 10 for the 1e6 domain — there float32 == float64 == exact rational,
# so these agree bit-for-bit with the float32 kernels above.
# ---------------------------------------------------------------------------


def axis_bin_sql(col: str, depth: int, extent: int = 1_000_000) -> str:
    """Bin index along one axis at ``depth`` with the reference's ``<=`` rule:
    a coordinate exactly on an interior boundary belongs to the LEFT bin,
    hence ceil(x*2^d/extent) - 1 (clamped at 0) rather than floor."""
    scale = 1 << depth
    return (
        f"GREATEST(CAST(FLOOR((CAST({col} AS BIGINT) * {scale} + {extent - 1}) "
        f"/ {extent}.0) AS BIGINT) - 1, 0)"
    )


def cell_id_sql(xcol: str, ycol: str, depth: int, extent: int = 1_000_000) -> str:
    """Reference cell id at ``depth`` as a single SQL expression (both
    engines): id_d = id_{d-1}*4 + (row_d%2)*2 + (col_d%2) + 1."""
    expr = "0"
    for d in range(1, depth + 1):
        cx = axis_bin_sql(xcol, d, extent)
        cy = axis_bin_sql(ycol, d, extent)
        expr = f"(({expr}) * 4 + (({cy}) % 2) * 2 + (({cx}) % 2) + 1)"
    return expr

