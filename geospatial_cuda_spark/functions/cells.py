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

- numpy kernels (float32-faithful): ``encode_cell_ids``, ``cell_bbox``,
  ``candidate_cell_ids`` — the reference semantics the JVM renderings are
  tested against, the encode of ``counts_from_points``'s rollup past depth
  13, and the search candidates' Arrow kernel (``candidate_cells_col``);
- one JVM rendering each of the encode (``with_cell_id``) and the bbox
  (``with_cell_bbox``): an exact integer prefix, then a staged float32
  midpoint descent, one projection per level, at every depth and on
  every domain — whole-stage codegen, no Python stage, bit-identical to
  the kernels;
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
# JVM renderings (pure Column, whole-stage codegen, no Python stage)
# ---------------------------------------------------------------------------


# Depth of the exact integer prefix: level boundaries k·1e6/2^d need 14+d
# mantissa bits (1e6 = 2^6·5^6), so on the reference domain they are exact
# in float32 — and the float32 midpoint descent through them lossless —
# iff d ≤ 10.
_EXACT_JVM_DEPTH = 10


def _axis_bin_col(c, depth: int, lo: float, hi: float):
    """JVM bin index along one axis at ``depth`` under the reference's ``<=``
    rule (a point exactly on an interior boundary goes left/bottom):
    bin = clamp(ceil((x-lo)·2^d/(hi-lo)) - 1, 0, 2^d-1). Exact while the
    boundaries are exactly representable (see _EXACT_JVM_DEPTH): on-boundary
    inputs hit the ceil integer exactly, off-boundary inputs are ≥ 1 float32
    ULP away, far beyond double rounding error.

    The input is quantized to float32 FIRST (cast float → double) so this JVM
    path shares the numpy kernel's float32 input semantics: a double within
    half a float32 ULP of a level boundary must round ONTO the boundary (and
    go left) exactly as the kernel's np.float32 cast does.

    Total on every double, as ``encode_cell_ids`` is: the scaled value is
    clamped into [0, 2^d] in double before ``ceil`` (whose long result
    would overflow on ±inf), and NaN maps to 0 — numpy's comparisons with
    NaN are false, so the kernel sends it left/bottom. So NaN bins to 0 and
    ±inf or any out-of-domain value to the edge bin. The clamp sits after
    the scaling, not on the input, to keep the expression small: the
    encode's interleave copies each bin once per level."""
    n = 1 << depth
    cq = c.cast("float").cast("double")
    scaled = (cq - F.lit(float(lo))) * F.lit(float(n)) / F.lit(float(hi - lo))
    inside = F.least(F.greatest(F.nanvl(scaled, F.lit(0.0)), F.lit(0.0)), F.lit(float(n)))
    return F.greatest(F.ceil(inside) - F.lit(1), F.lit(0))


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


def _f32(v: float):
    return F.lit(float(np.float32(v))).cast("float")


def _exact_depth(depth: int, domain) -> int:
    """Depth of the exact integer prefix both staged descents start from:
    ``min(depth, _EXACT_JVM_DEPTH)`` on the reference domain, and 0 on any
    other, whose level boundaries need not be exact in float32 — there the
    descent starts from the domain's own float32 box, as the kernels do."""
    return min(depth, _EXACT_JVM_DEPTH) if tuple(domain) == tuple(DOMAIN) else 0


def _root_box(domain) -> tuple[Column, Column, Column, Column]:
    """(x1, x2, y1, y2): the domain's own float32 edges, where the kernels'
    descent starts."""
    return tuple(_f32(domain[i]) for i in (0, 2, 1, 3))


def _prefix_box(col, row, p, domain) -> tuple[Column, Column, Column, Column]:
    """(x1, x2, y1, y2): the float32 box of the depth-``p`` cell (``col``,
    ``row``), p ≤ _EXACT_JVM_DEPTH on the reference domain (an int or a
    per-row Column). Every edge the float32 descent produces there is the
    exact boundary ``k·(hi-lo)/2^p``, and the double product ``k·step`` is
    exact (≤ 24 significand bits), so the float cast reproduces it."""
    inv = F.pow(F.lit(2.0), -F.lit(p).cast("double"))  # exact 2^-p
    box = []
    for c, lo, hi in ((col, domain[0], domain[2]), (row, domain[1], domain[3])):
        step = F.lit(float(hi - lo)) * inv
        box += [
            (c.cast("double") * step + F.lit(float(lo))).cast("float"),
            ((c + 1).cast("double") * step + F.lit(float(lo))).cast("float"),
        ]
    return tuple(box)


def _jvm_stages(stages: list[dict[str, Column]], col: Column) -> tuple:
    """(staged names, stages, ``col``) with each stage converted once into
    the JVM (names, Columns) Seq pair a projection takes: ``withColumns``
    converts both lists again on every call, about 2n+5 py4j round trips
    for n columns — hundreds per plan at depth 18. Cached with its Column
    trees (``cached_column``)."""
    to_seq = SparkContext._active_spark_context._jvm.PythonUtils.toSeq
    names = list(dict.fromkeys(name for stage in stages for name in stage))
    return names, [(to_seq(list(s)), to_seq([c._jc for c in s.values()])) for s in stages], col


def _with_stages(df, staged: tuple, out: str, owner: str):
    """``df`` with the ``_jvm_stages`` projected in order, then ``out`` = their
    Column; the staged names are dropped again, so ``out`` is the only
    added column. An input column named like a staged one raises
    ``ValueError`` rather than being overwritten and dropped.

    ``out`` is fenced off from the stages when there are any: Spark pushes
    a filter through a deterministic projection by substituting its
    aliases, and each level refers to the previous level's columns several
    times, so a filter on ``out`` grows exponentially with the levels it
    crosses (an ``is_leaf`` filter over a depth-18 bbox exhausted an 8 GB
    driver in constant folding). The guard ``spark_partition_id() >= 0`` is
    always true but not deterministic, so every filter stays above it."""
    names, stages, col = staged
    clash = [name for name in names if name in df.columns]
    if clash:
        raise ValueError(
            f"input columns {clash!r} collide with {owner}'s staged columns; rename them"
        )
    if not stages:
        return df.withColumn(out, col)
    for jnames, jcols in stages:
        df = type(df)(df._jdf.withColumns(jnames, jcols), df.sparkSession)
    return df.withColumn(out, F.when(F.spark_partition_id() >= 0, col)).drop(*names)


_CI_BOX = ("_ci_x1", "_ci_x2", "_ci_y1", "_ci_y2")


def with_cell_id(
    df,
    depth: int = MAX_DEPTH,
    x: str = "x",
    y: str = "y",
    out: str = "cell_id",
    domain=DOMAIN,
):
    """Attach ``out``: the reference cell id at ``depth`` of the point
    columns ``x``/``y`` — the engine's one encode, bit-identical to
    ``encode_cell_ids`` on every double, at every depth and on every
    domain, with no Python stage.

    It starts from the exact integer prefix at depth ``e`` (``_exact_depth``):
    one ceil per axis gives the depth-e bins (boundaries nest, so each
    level's bin is a prefix of the final one), bit-interleaved into the
    base-4 id ``id_d = id_{d-1}·4 + row_bit·2 + col_bit + 1``. Through depth
    e that is the whole id, inline. Each deeper level replays the
    reference's float32 midpoint descent from the prefix box with FloatType
    Column arithmetic — Spark's float add/multiply/compare are JVM float
    ops, bit-identical to the kernel's — and NaN is sent low with ``nanvl``,
    as numpy's false comparisons send it left/bottom.

    DataFrame-level deliberately: each deeper level is one staged
    projection (id and box), so a level reads the previous one's attributes
    instead of cloning its subtree (three levels inlined per stage measured
    2-3× slower at depths 16-18). The stage Columns are rendered once per
    SparkContext (``cached_column``); the staged ``_ci_*`` names are
    dropped before returning, and an input column named like one raises
    ``ValueError``.

    No filter is pushed below an encode that goes past the exact prefix
    (depth 10 on ``DOMAIN``, depth 0 on any other domain), not even one on
    a pass-through column such as ``pid`` or ``x``: the staged result is
    fenced (see ``_with_stages``). Filter the input before encoding it."""
    staged = cached_column(
        ("cell_id", x, y, depth, tuple(domain)),
        lambda: _jvm_stages(*_cell_id_stages(x, y, depth, domain)),
    )
    return _with_stages(df, staged, out, "with_cell_id")


def _cell_id_stages(x: str, y: str, depth: int, domain) -> tuple[list[dict[str, Column]], Column]:
    """with_cell_id's staged projections, in order, and the id over the
    last of them (alias-free, so cacheable)."""
    e = _exact_depth(depth, domain)
    cid, box = F.lit(0).cast("long"), _root_box(domain)
    if e:
        col = _axis_bin_col(F.col(x), e, domain[0], domain[2])
        row = _axis_bin_col(F.col(y), e, domain[1], domain[3])
        cid, box = _interleave_colrow(col, row, e), _prefix_box(col, row, e, domain)
    xf = F.nanvl(F.col(x).cast("float"), _f32(domain[0]))
    yf = F.nanvl(F.col(y).cast("float"), _f32(domain[1]))
    half = _f32(0.5)
    stages = []
    for _ in range(e, depth):
        stages.append({"_ci_id": cid, **dict(zip(_CI_BOX, box))})
        x1, x2, y1, y2 = (F.col(name) for name in _CI_BOX)
        mx = (x1 + x2) * half
        my = (y1 + y2) * half
        right = xf > mx
        top = yf > my
        cid = F.col("_ci_id") * 4 + top.cast("long") * 2 + right.cast("long") + F.lit(1)
        box = (
            F.when(right, mx).otherwise(x1),
            F.when(right, x2).otherwise(mx),
            F.when(top, my).otherwise(y1),
            F.when(top, y2).otherwise(my),
        )
    return stages, cid


def neighbor_ring_col(idcol, depth: int, radius: int = 1):
    """Column: array<long> of same-depth ring neighbors (incl. self; -1 where
    outside the grid), from the ``neighbor_ring`` kernel — the generator of
    the ``neighbor_ring`` contract query."""

    @F.pandas_udf(ArrayType(LongType()))
    def _ring(ids: pd.Series) -> pd.Series:
        arr = neighbor_ring(ids.to_numpy(np.int64), depth, radius)
        return pd.Series(list(arr))

    return _ring(idcol)


_BB_BOX = ("_bb_x1", "_bb_x2", "_bb_y1", "_bb_y2")


def with_cell_bbox(df, max_depth: int, domain=DOMAIN, min_distance: float = 5.0,
                   id_col: str = "cell_id", depth_col: str = "depth",
                   out: str = "g"):
    """Attach ``out``: the float32 bbox and extent flag struct (min_x, min_y,
    max_x, max_y, extent_ok) of MIXED-depth cell rows (depth ≤
    ``max_depth``) — the engine's one bbox, bit-identical to ``cell_bbox``
    at every depth and on every domain, with no Python stage. extent_ok is
    the negation of the reference's extent stop (create_grid.cu:31-35):
    |x1-x2| >= min_distance OR |y1-y2| >= min_distance, in float32.

    The digit value ``v = id - (4^d-1)/3`` has base-4 digits ``k_i - 1 =
    top_bit·2 + right_bit`` (root-first), so one de-interleave of v's
    even/odd bits yields (col, row) at the row's own depth d, uniformly for
    every depth in the batch — no per-depth CASE chain. All intermediate
    integer arithmetic is exact in doubles (4^d < 2^53). As in
    ``with_cell_id``, the box starts from the exact prefix at depth
    min(d, e), ``e = _exact_depth(max_depth, domain)``, and each deeper
    level replays the float32 descent as FloatType arithmetic, its branch
    taken from the cell's own digit bits.

    DataFrame-level deliberately: the de-interleave and each descent level
    are STAGED as real projection columns. Field extraction on an inline
    struct is rewritten to the struct child (SimplifyExtractValueOps),
    which would clone the whole integer subtree into every one of the six
    consumers — measured 3.5× slower than the Arrow kernel it replaced; with the stages
    materialized as attributes (CollapseProject keeps projections with
    multiply-referenced non-trivial aliases apart), each consumer is a few
    ops on shared locals and the stage stays a single WholeStageCodegen
    span. The stage Columns are cached per SparkContext
    (``cached_column``); the staged ``_bb_*`` names are dropped before
    returning, and an input column named like one raises ``ValueError``.

    No filter is pushed below this projection, not even one on a
    pass-through column: the staged result is fenced (see
    ``_with_stages``). Filter the cell rows before attaching the bbox."""
    staged = cached_column(
        ("cell_bbox", id_col, depth_col, max_depth, tuple(domain), float(min_distance)),
        lambda: _jvm_stages(*_cell_bbox_stages(id_col, depth_col, max_depth, domain, min_distance)),
    )
    return _with_stages(df, staged, out, "with_cell_bbox")


def _cell_bbox_stages(id_col: str, depth_col: str, max_depth: int, domain,
                      min_distance: float) -> tuple[list[dict[str, Column]], Column]:
    """with_cell_bbox's staged projections, in order, and the final bbox
    struct over them (alias-free, so cacheable)."""
    e = _exact_depth(max_depth, domain)
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

    def up(c: Column, levels: Column) -> Column:
        """``c`` without its ``levels`` low bits (levels ≥ 0)."""
        return F.floor(c.cast("double") / F.pow(F.lit(2.0), levels.cast("double"))).cast("long")

    box = _root_box(domain)
    if e:
        p = F.least(d, F.lit(e))
        box = _prefix_box(up(col, d - p), up(row, d - p), p, domain)
    half = _f32(0.5)
    for level in range(e + 1, max_depth + 1):
        stages.append(dict(zip(_BB_BOX, box)))
        x1, x2, y1, y2 = (F.col(name) for name in _BB_BOX)
        active = d >= F.lit(level)
        right = up(col, d - F.lit(level)).bitwiseAND(F.lit(1)) == 1
        top = up(row, d - F.lit(level)).bitwiseAND(F.lit(1)) == 1
        mx = (x1 + x2) * half
        my = (y1 + y2) * half
        box = (
            F.when(active & right, mx).otherwise(x1),
            F.when(active & ~right, mx).otherwise(x2),
            F.when(active & top, my).otherwise(y1),
            F.when(active & ~top, my).otherwise(y2),
        )
    # the final box staged once more so the six struct-field consumers
    # (4 floats + extent_ok + is_leaf downstream) share it as attributes
    stages.append(dict(zip(_BB_BOX, box)))
    fx1, fx2, fy1, fy2 = (F.col(name) for name in _BB_BOX)
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

