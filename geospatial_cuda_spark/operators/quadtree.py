"""Adaptive quadtree build as one grouped aggregation.

The reference builds the tree by per-node recursion with a GPU kernel pair
per node (quadtree_grid, cuda/create_grid.cu:25-159) or a BFS wave loop
(cuda/create_grid_with_stream.cu:187-263). Neither shape survives 100 TB.
The engine exploits two structural facts instead:

1. The bbox subdivision is data-independent — only the STOP rule
   (count < MIN_POINTS or extent floor, create_grid.cu:31-35) is data-driven.
   So each point's full-depth quadkey is a pure function of (x, y), and one
   grouped count over those keys (the finest-cell histogram) holds every
   count the recursion would compute.

2. A cell exists in the tree iff its PARENT is interior, and a parent's
   interior test needs only its own count and extent. So every cell is
   decided by one group: each finest cell emits one edge row per level —
   (parent, parent depth, child index 1-4, count) — and one aggregation
   grouped by parent yields the parent's count and its four child counts.
   Interior parents explode to their four children (empties become
   zero-count leaves, exactly like the reference's unconditional 4-way
   recursion); the depth-0 group also emits the root row.

Result: at every depth and on every domain the build is two exchanges —
the finest-cell histogram and the parent aggregation — with no join, no
persisted intermediate and no Python stage: the encode (``with_cell_id``)
and the bbox (``with_cell_bbox``) each have one rendering, a staged JVM
float32 descent. The one Python stage left is ``counts_from_points``'s
in-kernel rollup, kept for the counts relation past depth 13
(``_JVM_COUNTS_MAX_DEPTH``). The heavy Column trees (encode and bbox
stages, ancestor chains) are rendered once per SparkContext
(``C.cached_column``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from .. import DOMAIN, MAX_DEPTH, MIN_DISTANCE, MIN_POINTS
from ..functions import cells as C
from ..functions.cells import with_cell_id


def parent_col(cell_id: Column) -> Column:
    """(id-1) div 4 — exact for ids < 2^52."""
    return F.floor((cell_id - F.lit(1)) / F.lit(4)).cast("long")


def ancestor_col(cell_id: Column, levels_up: int) -> Column:
    """Ancestor ``levels_up`` levels up in ONE expression: iterating
    ``(id-1) div 4`` k times has the closed form
    ``floor((id - (4^k - 1)/3) / 4^k)`` — nested constant floor-divisions
    compose (``floor((floor(n/m)+p)/q) = floor((n+p·m)/(m·q))``, valid for
    all integer n), and the per-level ``-1`` offsets telescope to the base-4
    repunit. O(1) codegen per ancestor instead of O(k) nested floors; an
    ancestor-chain projection (search candidates, rollups, dyn chains)
    drops from O(depth²) to O(depth) expression terms, which shrinks its
    generated class and its Janino compile tax. Exact for ids < 2^52 (the
    double division by a power of 4 is exact below 2^53), matching
    ``parent_col``'s bound."""
    if levels_up <= 0:
        return cell_id
    c = (4 ** levels_up - 1) // 3
    return F.floor((cell_id - F.lit(c)) / F.lit(4 ** levels_up)).cast("long")


def ancestor_chain_col(cell_id: str, levels: int) -> Column:
    """array<long> of the column ``cell_id``'s ancestors 0..``levels``-1
    levels up (element k = k levels up), cached per SparkContext."""
    return C.cached_column(
        ("ancestors", cell_id, levels),
        lambda: F.array(*[ancestor_col(F.col(cell_id), k) for k in range(levels)]),
    )


def ancestor_dyn_col(cell_id: Column, levels_up: Column, max_levels: int = MAX_DEPTH) -> Column:
    """Ancestor with a per-row (data-dependent) number of levels: index into
    the precomputed ancestor array (linear-size expression — a naive nested
    CASE WHEN doubles the expression tree per level and explodes the plan)."""
    chain = F.array(*[ancestor_col(cell_id, k) for k in range(max_levels + 1)])
    return F.element_at(chain, (levels_up + 1).cast("int"))


def _finest_counts(points: DataFrame, x: str, y: str, max_depth: int, domain) -> DataFrame:
    """(_fid, count): the finest-cell histogram, JVM-encoded."""
    return (
        with_cell_id(points, max_depth, x, y, "_fid", domain)
        .groupBy("_fid")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _prefix_rows(finest: DataFrame, max_depth: int, levels: int) -> DataFrame:
    """(cell_id, depth, count) of each finest cell's ancestors 0..``levels``-1
    levels up — one row per (finest cell, level), not yet summed."""
    return finest.select(
        F.posexplode(ancestor_chain_col("_fid", levels)).alias("k", "cell_id"), "count"
    ).select("cell_id", (F.lit(max_depth) - F.col("k")).cast("int").alias("depth"), "count")


# Past this depth counts_from_points rolls the counts up inside an Arrow
# kernel. That is a different algorithm, not a second rendering of the
# encode: the kernel pre-reduces each partition's points to per-level counts
# before the one exchange, where the relational route explodes every
# occupied finest cell into its ancestors. At depth 18 on a 4-core host the
# two measured 6.0 s each at 1M points, but the explode took 33.9 s against
# the rollup's 24.0 s at 4M points.
_JVM_COUNTS_MAX_DEPTH = 13


def counts_from_points(
    points: DataFrame,
    x: str = "x",
    y: str = "y",
    domain=DOMAIN,
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """(cell_id, depth, count) for every OCCUPIED prefix cell at every depth —
    the counts relation the incremental paths keep (``mutations``,
    ``jobs/run_inference.py``) and the input of ``cells_from_counts``.

    Through max_depth 13 (``_JVM_COUNTS_MAX_DEPTH``) the route is all-JVM:
    ``with_cell_id`` + one grouped count to finest cells, then the ancestor
    explode over the min(N, 4^max_depth) FINEST-CELL rows and a grouped
    sum. This skips the JVM<->Python Arrow boundary entirely, whose round
    trip alone measured ~1.9 s on a 6M-point scan against ~0.3 s of kernel
    compute; the explode is over pre-reduced finest cells, never points, and
    partial aggregation bounds the shuffle (measured at parity with the
    kernel at 5M points / depth 12).

    Deeper trees keep ONE exchange of PRE-REDUCED rows: each input
    partition runs an Arrow kernel that encodes its points to finest cells
    (``encode_cell_ids``) and rolls the counts up all ``max_depth + 1``
    levels with numpy unique/bincount, yielding one partial (cell_id,
    depth, count) frame per partition; a single groupBy merges the
    partials. There the occupied-finest count approaches N, and the
    relational explode of every finest cell into its ancestors is the
    slower route (see ``_JVM_COUNTS_MAX_DEPTH``). This rollup is the only
    Python stage of the module."""

    out_schema = "cell_id long, depth int, count long"

    if max_depth <= _JVM_COUNTS_MAX_DEPTH:
        return (
            _prefix_rows(_finest_counts(points, x, y, max_depth, domain), max_depth, max_depth + 1)
            .groupBy("cell_id", "depth")
            .agg(F.sum("count").alias("count"))
        )

    def rollup(batches):
        xs, ys = [], []
        for b in batches:
            xs.append(b[x].to_numpy(np.float64))
            ys.append(b[y].to_numpy(np.float64))
        if not xs:
            return
        ids = C.encode_cell_ids(np.concatenate(xs), np.concatenate(ys), max_depth, domain)
        cur_u, cur_c = np.unique(ids, return_counts=True)
        out_id, out_d, out_c = [cur_u], [np.full(cur_u.size, max_depth, np.int32)], [
            cur_c.astype(np.int64)
        ]
        for d in range(max_depth - 1, -1, -1):
            cur_u, inv = np.unique((cur_u - 1) // 4, return_inverse=True)
            cur_c = np.bincount(inv, weights=cur_c).astype(np.int64)
            out_id.append(cur_u)
            out_d.append(np.full(cur_u.size, d, np.int32))
            out_c.append(cur_c)
        yield pd.DataFrame(
            {
                "cell_id": np.concatenate(out_id),
                "depth": np.concatenate(out_d),
                "count": np.concatenate(out_c),
            }
        )

    partials = points.select(x, y).mapInPandas(rollup, out_schema)
    return partials.groupBy("cell_id", "depth").agg(F.sum("count").alias("count"))


def cells_from_counts(
    counts_all: DataFrame,
    min_points: int = MIN_POINTS,
    min_distance: float = MIN_DISTANCE,
    max_depth: int = MAX_DEPTH,
    domain=DOMAIN,
) -> DataFrame:
    """Derive the tree relation from a (cell_id, depth, count) prefix-counts
    relation (``counts_from_points``, or counts merged with mutation
    deltas): every row at depth 1..max_depth is one edge to its parent, and
    the parent aggregation of ``build_cells`` decides the tree — cells-only
    work, one exchange."""
    return _cells_from_prefix_rows(
        counts_all.where(F.col("depth").between(1, max_depth)),
        min_points, min_distance, max_depth, domain,
    )


def _cells_from_prefix_rows(
    rows: DataFrame,
    min_points: int,
    min_distance: float,
    max_depth: int,
    domain,
) -> DataFrame:
    """The tree from (cell_id, depth, count) rows at depths 1..max_depth —
    several rows per cell allowed, their counts add up.

    Each row is an edge (parent, parent depth, child index 1-4, count); one
    aggregation grouped by parent gives the parent's count ``n`` and child
    counts ``c1..c4``. A parent is interior iff n >= min_points and its
    extent passes (every parent here is shallower than max_depth), so every
    tree cell below the root is emitted exactly once, by its interior
    parent's group, with its count (0 for an empty child). One zero-count
    edge of the root is unioned into the aggregation input, so the depth-0
    group — which emits the root row — exists even for an empty input."""
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    # The extent stop (|x1-x2| >= min_distance OR |y1-y2| >= min_distance,
    # float32) cannot bite while the widest axis of a depth-(max_depth-1)
    # cell is still ≥ 2·min_distance: the float32 descent halves each axis
    # within 1 ulp per level, so every parent's extent test is TRUE and no
    # parent bbox is computed. (The reference defaults — 1e6 domain,
    # min_distance 5 — keep the test provably constant through depth 16;
    # deeper trees evaluate it on the candidate parents.)
    max_axis = max(abs(domain[2] - domain[0]), abs(domain[3] - domain[1]))
    test_extent = max_axis / (1 << (max_depth - 1)) < 2.0 * min_distance
    e = C.cached_column(
        ("quadtree", min_points, float(min_distance), max_depth, tuple(domain)),
        lambda: _tree_cols(min_points, max_depth, test_extent),
    )
    root_edge = rows.sparkSession.sql("SELECT 0L AS parent, 0 AS pdepth, 0 AS k, 0L AS count")
    # Only the root group and candidate-interior groups emit rows, so the
    # count predicate runs before any extent test.
    groups = (
        rows.select(*_aliased(e["edges"]))
        .unionByName(root_edge)
        .groupBy("parent", "pdepth")
        .agg(*_aliased(e["sums"]))
        .where(e["candidate"])
    )
    if test_extent:
        groups = C.with_cell_bbox(
            groups, max_depth - 1, domain, min_distance,
            id_col="parent", depth_col="pdepth", out="_pg",
        )
    cells = groups.select(e["emit"]).where(e["emitted"]).drop("_emit")
    cells = C.with_cell_bbox(cells, max_depth, domain, min_distance)
    return cells.select(*_aliased(e["out"]))


def _aliased(cols: dict[str, Column]) -> list[Column]:
    return [c.alias(name) for name, c in cols.items()]


def _tree_cols(min_points: int, max_depth: int, test_extent: bool) -> dict:
    """The alias-free Column trees of ``_cells_from_prefix_rows`` (cached)."""
    cid = F.col("cell_id")
    parent = parent_col(cid)
    count = F.col("count")
    n, pdepth, p = F.col("n"), F.col("pdepth"), F.col("parent")
    interior = n >= min_points
    if test_extent:
        interior = interior & F.col("_pg.extent_ok")

    def cell(cell_id: Column, depth: Column, count: Column, emit: Column) -> Column:
        return F.named_struct(
            F.lit("cell_id"), cell_id, F.lit("depth"), depth,
            F.lit("count"), count, F.lit("_emit"), emit,
        )

    return {
        "edges": {
            "parent": parent,
            "pdepth": (F.col("depth") - 1).cast("int"),
            "k": (cid - parent * 4).cast("int"),
            "count": count.cast("long"),
        },
        "sums": {
            "n": F.sum(count),
            **{
                f"c{i}": F.sum(F.when(F.col("k") == i, count).otherwise(F.lit(0)))
                for i in (1, 2, 3, 4)
            },
        },
        "candidate": (n >= min_points) | (pdepth == 0),
        # Every interior cell spawns exactly 4 children (reference recursion
        # is unconditional: create_grid.cu:147-155) — empties become
        # 0-count leaves.
        "emit": F.inline(F.array(
            cell(p, pdepth, n, pdepth == 0),
            *[cell(p * 4 + F.lit(i), pdepth + 1, F.col(f"c{i}"), interior) for i in (1, 2, 3, 4)],
        )),
        "emitted": F.col("_emit"),
        "out": {
            "cell_id": cid,
            "depth": F.col("depth"),
            "min_x": F.col("g.min_x"),
            "min_y": F.col("g.min_y"),
            "max_x": F.col("g.max_x"),
            "max_y": F.col("g.max_y"),
            "count": count,
            "is_leaf": ~(
                (count >= min_points) & F.col("g.extent_ok") & (F.col("depth") < max_depth)
            ),
        },
    }


def build_cells(
    points: DataFrame,
    x: str = "x",
    y: str = "y",
    domain=DOMAIN,
    min_points: int = MIN_POINTS,
    min_distance: float = MIN_DISTANCE,
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """Build the quadtree as a relation.

    Returns ``(cell_id long, depth int, min_x/min_y/max_x/max_y float,
    count long, is_leaf boolean)`` — semantically identical to the relation
    prepare_boundaries emits (cuda/kernels.cu:517-537), including zero-count
    leaf children of interior nodes. Lazy, and persists nothing of its own:
    at every depth and on every domain the finest-cell histogram feeds the
    parent aggregation directly (two exchanges, no Python stage).
    """
    rows = _prefix_rows(_finest_counts(points, x, y, max_depth, domain), max_depth, max_depth)
    return _cells_from_prefix_rows(rows, min_points, min_distance, max_depth, domain)


def validate_cells(
    points: DataFrame,
    cells: DataFrame,
    x: str = "x",
    y: str = "y",
    domain=DOMAIN,
    max_depth: int = MAX_DEPTH,
) -> DataFrame:
    """The reference's validate_grid pass (inference.cu:95-102) as a
    relational operator: one row of invariant-violation counts, all zero
    iff the cells relation is a valid quadtree over ``points``.

    - ``n_points`` / ``leaf_count_sum``: leaf counts conserve the corpus;
    - ``n_unclaimed``: points whose ancestor chain hits NO leaf (P4 —
      out-of-bounds / hole check, cuda/kernels.cu boundary containment);
    - ``n_multi_claimed``: points claimed by >1 leaf (leaves must tile);
    - ``n_count_mismatch``: interior cells whose children's counts do not
      sum to theirs (A2 — count conservation at every split).

    Shape: points aggregate to their FINEST cell first (the chain of every
    point in a finest cell is identical, so claims are per finest cell ×
    its multiplicity — this is also what makes multi/unclaimed counting
    correct: a per-point id computed in the same projection as an explode
    would be re-evaluated per exploded row), then one ancestor explode over
    the ≤ occupied-finest-cells rows semi-joins the broadcast leaf set,
    plus one cells-sized self-join — no full re-sort, no driver loops."""
    leaves = cells.where(F.col("is_leaf")).select("cell_id", "count")
    finest = _finest_counts(points, x, y, max_depth, domain).withColumnRenamed(
        "count", "_npts"
    )
    claims = (
        finest.select(
            "_fid", "_npts", F.explode(ancestor_chain_col("_fid", max_depth + 1)).alias("cell_id")
        )
        .join(F.broadcast(leaves.select("cell_id")), on="cell_id", how="inner")
        .groupBy("_fid", "_npts")
        .agg(F.count(F.lit(1)).alias("_n_leaves"))
    )
    pt_stats = claims.agg(
        F.sum("_npts").alias("_n_claimed"),
        F.sum(F.when(F.col("_n_leaves") > 1, F.col("_npts")).otherwise(F.lit(0))).alias(
            "n_multi_claimed"
        ),
    )
    kids = cells.select(
        ancestor_col(F.col("cell_id"), 1).alias("_parent"),
        F.col("count").alias("_child_count"),
    ).where(F.col("cell_id") > 0)
    mismatch = (
        cells.where(~F.col("is_leaf"))
        .select(F.col("cell_id").alias("_parent"), "count")
        .join(kids, on="_parent", how="left")
        .groupBy("_parent", "count")
        .agg(F.sum("_child_count").alias("_ksum"))
        .agg(
            F.sum(
                (F.coalesce(F.col("_ksum"), F.lit(-1)) != F.col("count")).cast("long")
            ).alias("n_count_mismatch")
        )
    )
    totals = points.agg(F.count(F.lit(1)).alias("n_points")).crossJoin(
        leaves.agg(F.sum("count").alias("leaf_count_sum"))
    )
    return (
        totals.crossJoin(pt_stats)
        .crossJoin(mismatch)
        .select(
            "n_points",
            F.coalesce(F.col("leaf_count_sum"), F.lit(0)).alias("leaf_count_sum"),
            # coalesce: zero claims (no leaves at all) sums to NULL, and
            # n_points - NULL would report the worst corruption as NULL
            (F.col("n_points") - F.coalesce(F.col("_n_claimed"), F.lit(0))).alias(
                "n_unclaimed"
            ),
            F.coalesce(F.col("n_multi_claimed"), F.lit(0)).alias("n_multi_claimed"),
            F.coalesce(F.col("n_count_mismatch"), F.lit(0)).alias("n_count_mismatch"),
        )
    )
