"""Point-in-polygon join (J3 — north-rule extension; the reference supports
only axis-aligned rect containment, cuda/kernels.cu:152-155).

One operator, ``point_in_polygons_join``, against a polygon RELATION
``(poly_id, xs, ys)``, run entirely in the JVM:

1. the engine's grid blocking join (``search._box_join``, shared with
   ``distance_join`` and kNN): each polygon's bbox explodes to the bins of
   a ``2^block_depth`` grid it overlaps, each point keys to its one bin,
   and the broadcast exploded polygon side meets the points on the key.
   An exact bbox prune follows;
2. a boundary-inclusive ray cast over the polygon's edge array, built once
   per polygon: ``aggregate`` sums the signed crossings of a +x ray and
   ``exists`` finds a point on an edge, both Catalyst higher-order
   functions.

The ray cast runs ``pip_mask_rings``' double operations in the same order,
so its masks are bit-identical to that numpy reference (pytest-pinned). No
polygon data rides the driver or a task closure, and no Python worker runs.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import ArrayType

from ..functions.cells import cached_column
from .search import _box_join


def choose_block_depth(
    polygons: DataFrame,
    extent: float = 1_000_000.0,
    xs: str = "xs",
    ys: str = "ys",
    max_depth: int = 12,
) -> int:
    """Blocking-grid depth derived from the polygon SIZE DISTRIBUTION
    (no hand-tuned constant): pick the depth whose cell edge ≈ the median
    bbox edge, so a typical polygon explodes to ~4-9 cells while cells stay
    small enough that the candidate join isn't flooded by unrelated points.
    One approxQuantile job over the polygon relation (tiny next to the
    join); degenerate inputs (zero-extent polygons) clamp to max_depth."""
    med = (
        polygons.select(
            F.greatest(
                F.array_max(xs) - F.array_min(xs),
                F.array_max(ys) - F.array_min(ys),
            ).alias("_ext")
        ).approxQuantile("_ext", [0.5], 0.05)[0]
    )
    if med is None or med <= 0:
        return max_depth
    return max(1, min(int(round(math.log2(extent / med))), max_depth))


def _edges(xs: str, ys: str, nested: bool) -> Column:
    """The polygon's edges as one flat array of structs: from (x1, y1) to
    (x2, y2), with dx = x2 - x1, dy = y2 - y1, ``up`` = +1 for an upward
    edge and -1 otherwise, and the edge's bbox [lx, hx] × [ly, hy]. A flat
    ``xs`` is one ring; a nested one is zipped with ``ys`` into rings."""

    def build() -> Column:
        def ring(rx: Column, ry: Column) -> Column:
            k = F.size(rx)

            def edge(x1: Column, i: Column) -> Column:
                y1, x2, y2 = ry[i], rx[(i + 1) % k], ry[(i + 1) % k]
                return F.named_struct(
                    F.lit("x1"), x1, F.lit("y1"), y1, F.lit("y2"), y2,
                    F.lit("dx"), x2 - x1, F.lit("dy"), y2 - y1,
                    F.lit("up"), F.when(y2 > y1, 1).otherwise(-1),
                    F.lit("lx"), F.least(x1, x2), F.lit("hx"), F.greatest(x1, x2),
                    F.lit("ly"), F.least(y1, y2), F.lit("hy"), F.greatest(y1, y2),
                )

            return F.transform(rx, edge)

        t = "array<array<double>>" if nested else "array<double>"
        rxs, rys = F.col(xs).cast(t), F.col(ys).cast(t)
        if not nested:
            return ring(rxs, rys)
        return F.flatten(F.transform(rxs, lambda rx, j: ring(rx, rys[j])))

    return cached_column(("pip_edges", xs, ys, nested), build)


def _inside(rule: str) -> Column:
    """Is the point (``_px``, ``_py``) inside or on the polygon whose edges
    are ``_e``, under ``rule``? The arithmetic is ``pip_mask_rings``': the
    crossing test, the intersection x1 + (py - y1)·dx/dy and the exact
    on-edge test, operation for operation. ``px < xint`` is written
    ``px - xint < 0``, equal to numpy's comparison on every pair of
    doubles, NaN included."""

    def build() -> Column:
        px, py = F.col("_px"), F.col("_py")

        def crossing(acc: Column, e: Column) -> Column:
            # ``crosses`` implies dy != 0, and the AND short-circuits, so the
            # division never meets a zero divisor (ANSI raises on one). An
            # intersection that overflows to NaN must not count: Spark orders
            # NaN above every double, so ``px < NaN`` would hold, but
            # ``px - NaN < 0`` does not, as numpy's ``px < NaN`` does not
            crosses = (e.y1 > py) != (e.y2 > py)
            left = px - (e.x1 + (py - e.y1) * e.dx / e.dy) < 0
            return acc + F.when(crosses & left, e.up).otherwise(0)

        def on_edge(e: Column) -> Column:
            cross = e.dx * (py - e.y1) - e.dy * (px - e.x1)
            return (
                (cross == 0.0)
                & (px >= e.lx) & (px <= e.hx) & (py >= e.ly) & (py <= e.hy)
            )

        w = F.aggregate(F.col("_e"), F.lit(0), crossing)
        inside = (w % 2 != 0) if rule == "evenodd" else (w != 0)
        return inside | F.exists(F.col("_e"), on_edge)

    return cached_column(("pip_inside", rule), build)


def point_in_polygons_join(
    points: DataFrame,
    polygons: DataFrame,
    block_depth: int | None = 4,
    extent: float = 1_000_000.0,
    x: str = "x",
    y: str = "y",
    poly_id: str = "poly_id",
    xs: str = "xs",
    ys: str = "ys",
    rule: str = "evenodd",
) -> DataFrame:
    """Inner PIP join against a polygon RELATION ``(poly_id, xs, ys)`` with
    vertex arrays as columns. Returns every ``points`` row × the id of each
    polygon that contains it; a point on an edge is inside.

    MULTI-RING polygons (holes, multipolygons): pass ``xs``/``ys`` as
    array-of-array columns, one inner array per ring — detected from the
    column type. The blocking bbox is the bbox over all rings. ``rule`` is
    ``evenodd`` (crossing parity) or ``nonzero`` (winding number); see
    ``functions.geo.pip_mask_rings`` for the fill-rule semantics.

    ``block_depth`` trades join fan-out (big cells → more false candidates)
    against explode width (small cells → more cells per bbox); pass None
    to DERIVE it from the polygon size distribution (``choose_block_depth``
    targets cell edge ≈ median bbox edge). Results are depth-independent;
    only cost moves. The grid spans [0, ``extent``]²; NaN, ±inf and
    out-of-domain coordinates bin to an edge of it (``cells._axis_bin_col``)
    and never overflow a cast."""
    if rule not in ("evenodd", "nonzero"):
        raise ValueError(f"unknown fill rule {rule!r} (evenodd|nonzero)")
    # fail fast on column collisions: a points relation already carrying the
    # output column or a working column of the points side would otherwise
    # yield ambiguous or silently overwritten columns (``_box_join`` checks
    # the polygon side's)
    clash = sorted({poly_id, "_px", "_py"} & set(points.columns))
    if clash:
        raise ValueError(
            f"point_in_polygons_join: points relation already has column(s) "
            f"{clash} (reserved for the output/internal working set); rename "
            "or drop them first"
        )
    nested = isinstance(polygons.schema[xs].dataType.elementType, ArrayType)
    flat_xs = F.flatten(F.col(xs)) if nested else F.col(xs)
    flat_ys = F.flatten(F.col(ys)) if nested else F.col(ys)
    if block_depth is None:
        flat = polygons.select(
            F.col(poly_id), flat_xs.alias(xs), flat_ys.alias(ys)
        ) if nested else polygons
        block_depth = choose_block_depth(flat, extent, xs, ys)
    boxes = polygons.select(
        F.col(poly_id).alias("_pid2"),
        _edges(xs, ys, nested).alias("_e"),
        F.array_min(flat_xs).alias("_x1"),
        F.array_max(flat_xs).alias("_x2"),
        F.array_min(flat_ys).alias("_y1"),
        F.array_max(flat_ys).alias("_y2"),
    )
    pt_cols = list(points.columns)
    pts = points.select(
        "*", F.col(x).cast("double").alias("_px"), F.col(y).cast("double").alias("_py")
    )
    keep = ["_pid2", "_e", "_x1", "_x2", "_y1", "_y2"]
    domain = (0.0, 0.0, float(extent), float(extent))
    return (
        _box_join(pts, boxes, keep, block_depth, domain, "_px", "_py")
        .where(
            (F.col("_px") >= F.col("_x1"))
            & (F.col("_px") <= F.col("_x2"))
            & (F.col("_py") >= F.col("_y1"))
            & (F.col("_py") <= F.col("_y2"))
        )
        .where(_inside(rule))
        .select(*pt_cols, F.col("_pid2").alias(poly_id))
    )
