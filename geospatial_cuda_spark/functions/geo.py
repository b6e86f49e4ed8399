"""Geometric scalar kernels: web-mercator tile math and point-in-polygon.

Tile grid (engine-defined; the reference has no raster layer — north-rule
extension): zoom z splits the domain into 2^z × 2^z half-open tiles of size
s = extent/2^z; ``tile_x = floor(x/s)`` (clamped), ``tile_y = 2^z − 1 −
floor(y/s)`` (web-mercator row order, row 0 at the top). Pure integer
arithmetic — exact in Spark, DuckDB, and numpy alike.

PIP: ``pip_mask_rings`` is the numpy reference of the ray cast that
``operators.pip.point_in_polygons_join`` runs in the JVM. It is
boundary-INCLUSIVE (a point on any edge is inside), so axis-aligned
rectangle polygons agree exactly with the reference's inclusive bbox
containment (cuda/kernels.cu:152-155).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, functions as F

EXTENT = 1_000_000


def tile_xy_cols(x: Column, y: Column, zoom: int, extent: int = EXTENT) -> tuple[Column, Column]:
    """Built-in Column arithmetic (JVM-side, codegen-friendly)."""
    n = 1 << zoom
    tx = F.least(
        F.greatest(F.floor(x.cast("double") * n / extent).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    ty_raw = F.least(
        F.greatest(F.floor(y.cast("double") * n / extent).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    return tx.cast("int"), (F.lit(n - 1) - ty_raw).cast("int")


def tile_x_sql(xcol: str, zoom: int, extent: int = EXTENT) -> str:
    n = 1 << zoom
    return (
        f"CAST(LEAST(GREATEST(CAST(FLOOR(CAST({xcol} AS DOUBLE) * {n} / {extent}) "
        f"AS BIGINT), 0), {n - 1}) AS INT)"
    )


def tile_y_sql(ycol: str, zoom: int, extent: int = EXTENT) -> str:
    n = 1 << zoom
    return (
        f"CAST({n - 1} - LEAST(GREATEST(CAST(FLOOR(CAST({ycol} AS DOUBLE) * {n} / {extent}) "
        f"AS BIGINT), 0), {n - 1}) AS INT)"
    )


def _spread_bits_2d(v: Column, bits: int) -> Column:
    """Morton bit-spread: insert a zero between consecutive bits of a
    ``bits``-bit long (closed-form magic-mask form — 4 shift/and/or pairs,
    whole-stage codegen, no per-bit Column chain; cf. the Janino-tax note on
    closed-form cell arithmetic in operators/quadtree.py)."""
    # bits ≤ 31: the 2-column interleave puts column 1's top bit at position
    # 2·bits−1; at bits=32 that is bit 63 — the LONG SIGN BIT — and high-key
    # rows would sort BEFORE low-key rows, silently destroying the clustering
    assert bits <= 31
    out = v.cast("long")
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        if shift < bits * 2:  # steps wider than the input are no-ops
            out = (out.bitwiseOR(F.shiftleft(out, shift))).bitwiseAND(F.lit(mask))
    return out


def zorder_key(
    cols_bounds: list[tuple], bits: int = 16
) -> Column:
    """Z-order (Morton) clustering key over numeric columns with known
    bounds: ``cols_bounds`` is ``[(col_or_name, lo, hi), ...]`` (2 columns —
    the spatial case). Each value is normalized to a ``bits``-bit integer in
    [0, 2^bits), bit-interleaved, and returned as a long Column — sort or
    range-partition by it (``SnapshotTable(sort_cols=[zorder_key(...)])``)
    and nearby (x, y) land in the same data files, so BOTH columns' footer
    min/max stay tight and 2-D range predicates prune files (a lexicographic
    sort keeps only its leading column tight). Pure JVM Column arithmetic.

    Bounds need not be exact — values clamp to [lo, hi]; a clamped outlier
    only coarsens clustering, never correctness (pruning reads the FOOTER
    ranges of the raw columns, not the key)."""
    if len(cols_bounds) != 2:
        raise ValueError("zorder_key supports exactly 2 columns")
    if not 1 <= bits <= 31:
        raise ValueError(
            f"bits={bits} out of range [1, 31]: the interleaved key must fit "
            "the 63 value bits of a signed long (bit 63 would flip the sort)"
        )
    n = 1 << bits
    parts = []
    for i, (c, lo, hi) in enumerate(cols_bounds):
        col = F.col(c) if isinstance(c, str) else c
        scaled = F.floor(
            (col.cast("double") - F.lit(float(lo)))
            * F.lit(n / (float(hi) - float(lo)))
        ).cast("long")
        clamped = F.least(F.greatest(scaled, F.lit(0)), F.lit(n - 1))
        parts.append(F.shiftleft(_spread_bits_2d(clamped, bits), i))
    return parts[0].bitwiseOR(parts[1])


def zorder_np(xs: np.ndarray, ys: np.ndarray, bounds, bits: int = 16) -> np.ndarray:
    """Numpy twin of ``zorder_key`` for golden tests (same clamp + interleave)."""
    if not 1 <= bits <= 31:
        raise ValueError(f"bits={bits} out of range [1, 31] (see zorder_key)")
    (xlo, xhi), (ylo, yhi) = bounds
    n = 1 << bits

    def norm(v, lo, hi):
        return np.clip(
            np.floor((v.astype(np.float64) - lo) * (n / (hi - lo))).astype(np.int64),
            0,
            n - 1,
        )

    def spread(v):
        v = v.astype(np.uint64)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    return (
        spread(norm(xs, xlo, xhi)) | (spread(norm(ys, ylo, yhi)) << np.uint64(1))
    ).astype(np.int64)


def tile_xy_np(x: np.ndarray, y: np.ndarray, zoom: int, extent: int = EXTENT):
    n = 1 << zoom
    tx = np.clip(np.floor(x.astype(np.float64) * n / extent).astype(np.int64), 0, n - 1)
    ty = n - 1 - np.clip(np.floor(y.astype(np.float64) * n / extent).astype(np.int64), 0, n - 1)
    return tx.astype(np.int32), ty.astype(np.int32)


def pip_mask_rings(
    px: np.ndarray,
    py: np.ndarray,
    rings: list[np.ndarray],
    rule: str = "evenodd",
) -> np.ndarray:
    """Vectorized boundary-inclusive point-in-polygon over a MULTI-RING
    polygon (outer boundary + holes, or several disjoint outers — any
    admin-boundary-with-enclave shape). ``rings``: list of (k, 2) float64
    vertex arrays; one numpy pass per edge over all the points. The JVM
    operator runs the same double operations in the same order, and tests
    pin its rows to this function.

    Fill rules (the two standard ones, VERDICT r4 item 6):
    - ``evenodd``: crossing-parity of a +x ray over ALL rings' edges — a
      hole is a hole regardless of its winding direction;
    - ``nonzero`` (winding number): signed crossing sum (upward edge left
      of the point = +1, downward = −1); a ring wound the SAME way as the
      outer does NOT punch a hole, and a self-overlapping ring's
      double-wound core stays inside (where even-odd excludes it —
      pytest-pinned against a naive per-point oracle).

    Both rules share one crossing test and intersection arithmetic. A
    point ON any ring edge is inside under both rules (boundary-inclusive
    — axis-aligned rect rings thus agree exactly with the reference's
    inclusive bbox containment, cuda/kernels.cu:152-155)."""
    if rule not in ("evenodd", "nonzero"):
        raise ValueError(f"unknown fill rule {rule!r} (evenodd|nonzero)")
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    wn = np.zeros(px.shape[0], dtype=np.int64)
    onedge = np.zeros(px.shape[0], dtype=bool)
    for poly in rings:
        poly = np.asarray(poly, dtype=np.float64)
        k = poly.shape[0]
        for i in range(k):
            x1, y1 = poly[i]
            x2, y2 = poly[(i + 1) % k]
            # exact on-segment test (collinear + within segment bbox)
            cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
            within = (
                (px >= min(x1, x2)) & (px <= max(x1, x2))
                & (py >= min(y1, y2)) & (py <= max(y1, y2))
            )
            onedge |= (cross == 0.0) & within
            crosses = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            hit = crosses & (px < xint)
            # upward edge (y2 > y1) contributes +1, downward −1; horizontal
            # edges never satisfy `crosses`
            wn += np.where(hit, np.where(y2 > y1, 1, -1), 0)
    inside = (wn & 1).astype(bool) if rule == "evenodd" else wn != 0
    return inside | onedge

