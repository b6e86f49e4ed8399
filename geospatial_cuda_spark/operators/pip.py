"""Point-in-polygon join (J3 — north-rule extension; the reference supports
only axis-aligned rect containment, cuda/kernels.cu:152-155).

One operator, ``point_in_polygons_join``, against a polygon RELATION
``(poly_id, xs, ys)``, run entirely in the JVM:

1. a grid-blocking equi-join: each polygon's bbox explodes to the cells of
   a ``2^block_depth`` grid it overlaps, each point hashes to its one cell,
   and the join on the cell pairs them (the planner broadcasts the small
   exploded polygon side; a large polygon relation keeps a shuffle join).
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
    on-edge test, operation for operation."""

    def build() -> Column:
        px, py = F.col("_px"), F.col("_py")

        def crossing(acc: Column, e: Column) -> Column:
            # ``crosses`` implies dy != 0, and the AND short-circuits, so the
            # division never meets a zero divisor (ANSI raises on one)
            crosses = (e.y1 > py) != (e.y2 > py)
            left = px < e.x1 + (py - e.y1) * e.dx / e.dy
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
    only cost moves. Coordinates are clamped into the grid in double before
    the integer cast, so NaN, ±inf and out-of-domain values bin to an edge
    cell and never overflow it."""
    if rule not in ("evenodd", "nonzero"):
        raise ValueError(f"unknown fill rule {rule!r} (evenodd|nonzero)")
    # fail fast on column collisions: a points relation already carrying the
    # output column or an internal working name would otherwise yield
    # ambiguous or silently overwritten columns
    reserved = {poly_id, "_cx", "_cy", "_pid2", "_e", "_px", "_py",
                "_xmin", "_xmax", "_ymin", "_ymax"}
    clash = sorted(reserved & set(points.columns))
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
    n = 1 << block_depth
    step = float(extent) / n

    def _cell(c):
        b = F.least(F.lit(n - 1.0), F.greatest(F.lit(0.0), c / F.lit(step)))
        return F.floor(b).cast("int")

    p = polygons.select(
        F.col(poly_id).alias("_pid2"),
        _edges(xs, ys, nested).alias("_e"),
        F.array_min(flat_xs).alias("_xmin"),
        F.array_max(flat_xs).alias("_xmax"),
        F.array_min(flat_ys).alias("_ymin"),
        F.array_max(flat_ys).alias("_ymax"),
    )
    pcells = (
        p.withColumn("_cx", F.explode(F.sequence(_cell(F.col("_xmin")), _cell(F.col("_xmax")))))
        .withColumn("_cy", F.explode(F.sequence(_cell(F.col("_ymin")), _cell(F.col("_ymax")))))
    )
    pt_cols = list(points.columns)
    px, py = F.col(x).cast("double"), F.col(y).cast("double")
    pts = points.select(
        "*", px.alias("_px"), py.alias("_py"), _cell(px).alias("_cx"), _cell(py).alias("_cy")
    )
    return (
        pts.join(pcells, on=["_cx", "_cy"])
        .where(
            (F.col("_px") >= F.col("_xmin"))
            & (F.col("_px") <= F.col("_xmax"))
            & (F.col("_py") >= F.col("_ymin"))
            & (F.col("_py") <= F.col("_ymax"))
        )
        .where(_inside(rule))
        .select(*pt_cols, F.col("_pid2").alias(poly_id))
    )
