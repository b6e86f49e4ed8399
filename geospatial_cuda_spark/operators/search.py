"""Containing-quadrant search (J1) and exact point lookup (J2).

Two physical strategies for the same logical operator, both matching
quadrant_search's semantics exactly (cuda/kernels.cu:142-162): inclusive
containment on every bbox edge, winner = MAX cell id (deepest node, since
child ids exceed ancestors'; ties across sibling chains on shared edges also
resolve by max id), -1 when no boundary contains the point.

- ``broadcast`` path: the reference-faithful broadcast nested-loop θ-join —
  every query × every boundary — then argmax. Right for small/medium cell
  relations (the boundary table is tiny relative to points).
- ``prefix`` path: work-efficient equi-join — each query generates its ≤4
  closed-containment candidate id chains (the float32 Arrow kernel, the
  only rendering of candidate generation), exploded and equi-joined against
  the cells relation. O(depth) candidates per query instead of O(#cells);
  the planner picks the join (a broadcast of the cells side at small scale,
  a shuffle on cell_id far beyond broadcast size). This inverts the
  reference's brute-force-for-parallelism trade (SURVEY §4) without
  changing results. ``point_lookup`` locates through this path.

Both paths left-join (a query without a hit survives) and end in one
``groupBy(qid)`` that takes the max and carries each query row through: no
dedup shuffle and no join back. The result keeps the queries' columns and
row multiplicity; rows sharing a qid share its max.

The module also holds the engine's one grid blocking join, ``_box_join``:
each point keys to its uniform-grid bin (``cells._axis_bin_col``, total on
every double), each box of a small relation explodes to the bins it
overlaps, and the broadcast boxes meet the points on the key. The radius
join (``distance_join``), exact kNN (``knn.knn_cells_exact``) and
point-in-polygon (``pip.point_in_polygons_join``) all prune through it.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from .. import DOMAIN, MAX_DEPTH
from ..functions import cells as C
from .quadtree import ancestor_dyn_col

RESULT_COL = "found_cell_id"


def _tagged(queries: DataFrame, qid: str, x: str, y: str) -> DataFrame:
    """``queries.select(qid, x, y)`` beside each whole row, packed as
    ``_row`` = (row id, the row's columns, qid first). The row id keeps
    identical rows apart through ``_best_per_qid``. Explode in a later
    select: in the same one, the id would be drawn per exploded row."""
    names = tuple([qid] + [c for c in queries.columns if c != qid])
    row = C.cached_column(
        ("search_row", names),
        lambda: F.named_struct(
            F.lit("id"), F.monotonically_increasing_id(), F.lit("q"), F.struct(*names)
        ),
    )
    return queries.select(row.alias("_row"), qid, x, y)


def _best_per_qid(hits: DataFrame, qid: str) -> DataFrame:
    """Every query row with the max ``_hit`` over all rows of its qid (-1
    when none hit), from one grouped aggregation that carries the rows
    through. A null qid finds nothing, as an equi-join on it would."""

    def build():
        best = F.max(F.when(F.col(qid).isNotNull(), F.col("_hit")))
        found = F.coalesce(F.col(RESULT_COL), F.lit(-1)).cast("long")
        return best, F.collect_set("_row"), F.explode("_rows"), found

    best, rows, row, found = C.cached_column(("search_best", qid), build)
    return (
        hits.groupBy(qid)
        .agg(best.alias(RESULT_COL), rows.alias("_rows"))
        .select(row.alias("_row"), RESULT_COL)
        .select("_row.q.*", found.alias(RESULT_COL))
    )


def quadrant_search_broadcast(
    queries: DataFrame,
    cells: DataFrame,
    qid: str = "qid",
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Reference-shaped plan: broadcast boundaries, nested-loop containment.
    Coordinates are quantized to float32 first, as the reference's points
    and the prefix path's candidate kernel are (a no-op on float columns)."""
    b = F.broadcast(
        cells.select(F.col("cell_id").alias("_hit"), "min_x", "min_y", "max_x", "max_y")
    )
    px, py = F.col(x).cast("float"), F.col(y).cast("float")
    cond = (
        (px >= F.col("min_x"))
        & (px <= F.col("max_x"))
        & (py >= F.col("min_y"))
        & (py <= F.col("max_y"))
    )
    return _best_per_qid(_tagged(queries, qid, x, y).join(b, on=cond, how="left"), qid)


def quadrant_search_prefix(
    queries: DataFrame,
    cells: DataFrame,
    qid: str = "qid",
    x: str = "x",
    y: str = "y",
    max_depth: int = MAX_DEPTH,
    domain=DOMAIN,
) -> DataFrame:
    """Scale path: candidate-chain equi-join instead of nested-loop scan.

    Candidates come from the float32-faithful Arrow kernel
    (``cells.candidate_cells_col``): ~300 B per query across the boundary,
    so its cost is negligible at any query count, and the plan compiles in
    ms — the right trade for plan-per-query serving. Duplicate candidates
    are harmless under ``max``."""
    cand = C.candidate_cells_col(F.col(x), F.col(y), max_depth, domain)
    hits = (
        _tagged(queries, qid, x, y)
        .select("_row", qid, F.explode_outer(cand).alias("_cand"))
        .join(
            cells.select(F.col("cell_id").alias("_hit")), F.col("_cand") == F.col("_hit"), "left"
        )
    )
    return _best_per_qid(hits, qid)


def choose_distance_depth(radius: float, domain=DOMAIN) -> int:
    """Deepest grid whose cells are at least ``radius`` wide (capped at the
    float32-exact JVM binning bound): the query bbox then overlaps at most a
    3×3 bin rectangle, so per-query candidate generation is O(1)."""
    ext = float(min(domain[2] - domain[0], domain[3] - domain[1]))
    if radius <= 0:
        raise ValueError(f"radius must be positive, got {radius}")
    if radius >= ext:
        return 0
    return max(0, min(C._EXACT_JVM_DEPTH, int(math.floor(math.log2(ext / radius)))))


_PAD = 1e-6


def _box_join(
    points: DataFrame,
    boxes: DataFrame,
    keep: list[str],
    depth: int,
    domain,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """The engine's one grid blocking join, shared by ``distance_join``,
    ``knn.knn_cells_exact`` and ``pip.point_in_polygons_join``: every point
    beside the ``keep`` columns of each box [_x1, _x2] × [_y1, _y2] (double
    edge columns of ``boxes``) that overlaps its grid bin at ``depth``.

    A point's key is its (col, row) bin packed into a long, col·2^depth +
    row. Not a quadkey: blocking keys never leave the operator, so a 2-ceil
    pack replaces the per-level interleave (pure codegen either way). Each
    box explodes to the keys of the bin rectangle its edges fall in,
    through the same binning, ``cells._axis_bin_col``. Binning is monotone
    (float32 rounding and ceil both are) and total (NaN, ±inf and
    out-of-domain values bin to an edge), so every point inside a box meets
    it, once, and an unbounded edge simply reaches the grid's edge. The
    exploded boxes are the broadcast side and the points never shuffle.
    A points column named ``_qkey`` or like a ``keep`` column raises
    ``ValueError``."""
    clash = sorted(({"_qkey"} | set(keep)) & set(points.columns))
    if clash:
        raise ValueError(
            f"points relation carries reserved column name(s) {clash} "
            "(the operator's output/internal working set); rename them first"
        )

    def build() -> tuple[Column, Column]:
        def bins(v: str, lo: float, hi: float) -> Column:
            return C._axis_bin_col(F.col(v), depth, lo, hi)

        xlo, ylo, xhi, yhi = (float(v) for v in domain)
        n = 1 << depth
        pkey = bins(x, xlo, xhi) * n + bins(y, ylo, yhi)
        rlo, rhi = bins("_y1", ylo, yhi), bins("_y2", ylo, yhi)
        cols = F.sequence(bins("_x1", xlo, xhi), bins("_x2", xlo, xhi))
        keys = F.transform(cols, lambda c: F.sequence(c * n + rlo, c * n + rhi))
        return pkey, F.explode(F.flatten(keys))

    pkey, qkeys = C.cached_column(("box_join", x, y, depth, tuple(domain)), build)
    cand = F.broadcast(boxes.select(*keep, qkeys.alias("_qkey")))
    return points.join(cand, pkey == F.col("_qkey"))


def _with_square(boxes: DataFrame) -> DataFrame:
    """``boxes`` plus ``_box_join``'s edge columns for the square
    (``_qx``, ``_qy``) ± ``_half``."""

    def build() -> dict[str, Column]:
        qx, qy, h = F.col("_qx"), F.col("_qy"), F.col("_half")
        return {"_x1": qx - h, "_x2": qx + h, "_y1": qy - h, "_y2": qy + h}

    return boxes.withColumns(C.cached_column(("square",), build))


def _dist2(x: str, y: str) -> Column:
    """Squared distance in double from the point (``x``, ``y``) to the
    query (``_qx``, ``_qy``)."""

    def build() -> Column:
        dx = F.col(x).cast("double") - F.col("_qx")
        dy = F.col(y).cast("double") - F.col("_qy")
        return dx * dx + dy * dy

    return C.cached_column(("dist2", x, y), build)


def distance_join(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    qid: str = "qid",
    x: str = "x",
    y: str = "y",
    depth: int | None = None,
    domain=DOMAIN,
) -> DataFrame:
    """Radius join (the ST_DWithin analogue): every (query, point) pair with
    Euclidean distance ≤ ``radius`` (inclusive), plus the exact squared
    distance. Returns all ``points`` columns + ``qid`` + ``dist2``.

    The reference engine has no radius query — this is the range-query twin
    of its kNN surface (same grid machinery; distance is measured to the
    point, unlike the cell-containment joins of kernels.cu:142-162).

    Physical plan, chosen for the 100-TB shape (huge points, bounded queries):

    1. the grid blocking join (``_box_join``): one key per point, and each
       query's radius-r square, padded by 1e-6 per side, exploded to the
       bins it overlaps. The pad absorbs the one residual double rounding of
       (qx ± r) for non-lattice coordinates; on the integer-lattice data
       model the endpoints are exact and the pad is inert (bins are ≥
       ext/2^10 ≈ 976 wide). The exploded squares are the broadcast side,
       so the points table NEVER shuffles — one map-side join stage at any
       scale.
    2. exact distance filter in codegen: dist2 ≤ r² on double arithmetic —
       integer-exact for lattice coords (|coord| < 2^26). A point at NaN or
       ±inf bins to a grid edge and fails this filter.

    Each matching pair appears EXACTLY once: a point has one key and the
    rectangle's keys are distinct — no post-join dedup.
    """
    if depth is None:
        depth = choose_distance_depth(radius, domain)
    if "dist2" in points.columns:
        raise ValueError(
            "points relation carries the reserved output column name 'dist2'; "
            "rename it first"
        )
    boxes = _with_square(queries.select(
        F.col(qid),
        F.col(x).cast("double").alias("_qx"),
        F.col(y).cast("double").alias("_qy"),
        F.lit(float(radius) + _PAD).alias("_half"),
    ))
    return (
        _box_join(points, boxes, [qid, "_qx", "_qy"], depth, domain, x, y)
        .withColumn("dist2", _dist2(x, y))
        .where(F.col("dist2") <= F.lit(float(radius) * float(radius)))
        .drop("_qkey", "_qx", "_qy")
    )


def point_lookup(
    queries: DataFrame,
    points: DataFrame,
    cells: DataFrame,
    qid: str = "qid",
    x: str = "x",
    y: str = "y",
    max_depth: int = MAX_DEPTH,
    domain=DOMAIN,
) -> DataFrame:
    """J1 + J2: locate the containing quadrant, then verify the exact point
    exists in THAT node's subtree (inference.cu:126-137). A point on a shared
    edge can resolve to a sibling chain that does not hold it — that is
    reference behavior and is preserved.

    ``points`` must carry a ``cell_id`` column at ``max_depth`` (see
    quadtree.with_cell_id). Returns (qid, found_cell_id, found boolean).
    """
    found = quadrant_search_prefix(
        queries, cells, qid=qid, x=x, y=y, max_depth=max_depth, domain=domain
    )

    found = found.join(
        cells.select("cell_id", F.col("depth").alias("_found_depth")).withColumnRenamed(
            "cell_id", RESULT_COL
        ),
        on=RESULT_COL,
        how="left",
    )
    # Exact-equality join against points, then require the matched point's
    # ancestor at the found depth to BE the found cell (membership in that
    # node's subtree array).
    pts = points.select(
        F.col(x).alias("_px"), F.col(y).alias("_py"), F.col("cell_id").alias("_pcell")
    )
    m = found.join(
        pts, on=(F.col(x) == F.col("_px")) & (F.col(y) == F.col("_py")), how="left"
    ).withColumn(
        "_member",
        (F.col(RESULT_COL) >= 0)
        & F.col("_pcell").isNotNull()
        & (
            ancestor_dyn_col(
                F.col("_pcell"), F.lit(max_depth) - F.col("_found_depth"), max_depth
            )
            == F.col(RESULT_COL)
        ),
    )
    return m.groupBy(qid, RESULT_COL).agg(
        F.coalesce(F.max("_member"), F.lit(False)).alias("found")
    )
