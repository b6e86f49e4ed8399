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
  AQE picks the join (a broadcast of the cells side at small scale, a
  shuffle on cell_id far beyond broadcast size). This inverts the
  reference's brute-force-for-parallelism trade (SURVEY §4) without
  changing results. ``point_lookup`` locates through this path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .. import DOMAIN, MAX_DEPTH
from ..functions import cells as C
from .quadtree import ancestor_dyn_col

RESULT_COL = "found_cell_id"


def _argmax_fill(queries: DataFrame, hits: DataFrame, qid: str) -> DataFrame:
    best = hits.groupBy(qid).agg(F.max("cell_id").alias(RESULT_COL))
    return queries.join(best, on=qid, how="left").withColumn(
        RESULT_COL, F.coalesce(F.col(RESULT_COL), F.lit(-1)).cast("long")
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
    b = F.broadcast(cells.select("cell_id", "min_x", "min_y", "max_x", "max_y"))
    px, py = F.col(x).cast("float"), F.col(y).cast("float")
    cond = (
        (px >= F.col("min_x"))
        & (px <= F.col("max_x"))
        & (py >= F.col("min_y"))
        & (py <= F.col("max_y"))
    )
    hits = queries.select(qid, x, y).join(b, on=cond, how="inner")
    return _argmax_fill(queries, hits, qid)


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
    ms — the right trade for plan-per-query serving."""
    cand = (
        queries.select(
            qid,
            F.explode(C.candidate_cells_col(F.col(x), F.col(y), max_depth, domain)).alias(
                "cell_id"
            ),
        )
        .where(F.col("cell_id") >= 0)
        .dropDuplicates([qid, "cell_id"])
    )
    hits = cand.join(cells.select("cell_id"), on="cell_id", how="inner")
    return _argmax_fill(queries, hits, qid)


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


def distance_join(
    queries: DataFrame,
    points: DataFrame,
    radius: float,
    qid: str = "qid",
    x: str = "x",
    y: str = "y",
    depth: int | None = None,
    domain=DOMAIN,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Radius join (the ST_DWithin analogue): every (query, point) pair with
    Euclidean distance ≤ ``radius`` (inclusive), plus the exact squared
    distance. Returns all ``points`` columns + ``qid`` + ``dist2``.

    The reference engine has no radius query — this is the range-query twin
    of its kNN surface (same grid machinery; distance is measured to the
    point, unlike the cell-containment joins of kernels.cu:142-162).

    Physical plan, chosen for the 100-TB shape (huge points, bounded queries):

    1. every POINT gets ONE blocking key — its (col, row) grid bin at
       ``depth`` packed into a long. NOT a quadkey: blocking keys never
       leave the operator, so a 2-ceil pack replaces the per-level
       interleave (pure whole-stage codegen either way).
    2. every QUERY explodes to the grid rectangle its radius-r bbox
       overlaps: per-axis bins of qx±r through the SAME binning function.
       Binning is monotone (float32 rounding and ceil both are), so any
       point within r bins inside the rectangle — conservative, never
       misses. A pad of 1e-6 on each endpoint absorbs the one residual
       double-rounding of (qx ± r) for non-lattice coordinates; on the
       integer-lattice data model the endpoints are exact and the pad is
       inert (bins are ≥ ext/2^10 ≈ 976 wide).
    3. hash equi-join on the key. With a bounded query side (the default)
       the rectangle relation broadcasts, so the points table NEVER
       shuffles — one map-side join stage at any scale. For huge query
       sides pass ``broadcast_queries=False`` and both sides shuffle on
       the key.
    4. exact distance filter in codegen: dist2 ≤ r² on double arithmetic —
       integer-exact for lattice coords (|coord| < 2^26).

    Each matching pair appears EXACTLY once: a point has one key and the
    rectangle's keys are distinct — no post-join dedup.
    """
    if depth is None:
        depth = choose_distance_depth(radius, domain)
    n = 1 << depth
    reserved = {qid, "_qx", "_qy", "_qkey", "dist2"}
    clash = sorted(reserved & set(points.columns))
    if clash:
        raise ValueError(
            f"points relation carries reserved column name(s) {clash} "
            "(the operator's output/internal working set); rename them first"
        )
    xlo, ylo, xhi, yhi = domain[0], domain[1], domain[2], domain[3]
    pkey = (
        C._axis_bin_col(F.col(x), depth, xlo, xhi) * n
        + C._axis_bin_col(F.col(y), depth, ylo, yhi)
    ).alias("_qkey")
    pts = points.select(F.col("*"), pkey)

    pad = 1e-6
    qx = F.col(x).cast("double")
    qy = F.col(y).cast("double")
    clo = C._axis_bin_col(qx - F.lit(radius + pad), depth, xlo, xhi)
    chi = C._axis_bin_col(qx + F.lit(radius + pad), depth, xlo, xhi)
    rlo = C._axis_bin_col(qy - F.lit(radius + pad), depth, ylo, yhi)
    rhi = C._axis_bin_col(qy + F.lit(radius + pad), depth, ylo, yhi)
    cand = (
        queries.select(
            F.col(qid),
            qx.alias("_qx"),
            qy.alias("_qy"),
            F.explode(F.sequence(clo, chi)).alias("_qc"),
            rlo.alias("_rlo"),
            rhi.alias("_rhi"),
        )
        .select(
            qid,
            "_qx",
            "_qy",
            "_qc",
            F.explode(F.sequence(F.col("_rlo"), F.col("_rhi"))).alias("_qr"),
        )
        .select(
            qid, "_qx", "_qy", (F.col("_qc") * n + F.col("_qr")).alias("_qkey")
        )
    )
    if broadcast_queries:
        cand = F.broadcast(cand)
    dist2 = (F.col(x).cast("double") - F.col("_qx")) * (
        F.col(x).cast("double") - F.col("_qx")
    ) + (F.col(y).cast("double") - F.col("_qy")) * (F.col(y).cast("double") - F.col("_qy"))
    return (
        pts.join(cand, on="_qkey", how="inner")
        .withColumn("dist2", dist2)
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
