"""Insert / delete / search as set-based micro-batch operators (M1/M2).

The reference mutates the tree in place per query (insert_point
cuda/insert.cpp:8-35, delete_point cuda/delete.cpp:7-78, dispatched from
inference.cu:138-164). In a dataflow engine a mutation is a new snapshot:
 - insert  = union of rows NOT already present (the reference inserts only
   after a failed membership check);
 - delete  = anti-join on exact (x, y) (the reference's intended semantics —
   its implementation loses surviving leaf points, cuda/delete.cpp:10-18, a
   documented deviation we do not replicate);
 - the cells relation refreshes INCREMENTALLY: the count delta of touched
   finest cells rolls up the prefix chain and merges into the old counts,
   then the cheap cells-from-counts aggregation re-derives the tree —
   cells-only work, no points rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import DOMAIN, MAX_DEPTH, MIN_DISTANCE, MIN_POINTS
from .quadtree import ancestor_chain_col, cells_from_counts, with_cell_id


def insert_points(points: DataFrame, new_rows: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """Union rows whose exact (x, y) is absent (insert-if-missing)."""
    missing = new_rows.join(
        points.select(F.col(x).alias("_ex"), F.col(y).alias("_ey")),
        on=(F.col(x) == F.col("_ex")) & (F.col(y) == F.col("_ey")),
        how="left_anti",
    )
    return points.unionByName(missing.select(*points.columns))


def delete_points(points: DataFrame, del_rows: DataFrame, x: str = "x", y: str = "y") -> DataFrame:
    """Remove exactly the matching (x, y) rows (all duplicates of the point)."""
    return points.join(
        del_rows.select(F.col(x).alias("_dx"), F.col(y).alias("_dy")),
        on=(F.col(x) == F.col("_dx")) & (F.col(y) == F.col("_dy")),
        how="left_anti",
    )


def counts_delta(
    delta_points: DataFrame,
    sign: int,
    x: str = "x",
    y: str = "y",
    max_depth: int = MAX_DEPTH,
    domain=DOMAIN,
) -> DataFrame:
    """±1 rollup of a (small) mutation batch over all prefix depths."""
    finest = (
        with_cell_id(delta_points.select(x, y), max_depth, x, y, "cell_id", domain)
        .groupBy("cell_id")
        .agg((F.count(F.lit(1)) * sign).alias("count"))
    )
    return (
        finest.select(
            F.posexplode(ancestor_chain_col("cell_id", max_depth + 1)).alias("k", "cell_id"),
            "count",
        )
        .select("cell_id", (F.lit(max_depth) - F.col("k")).cast("int").alias("depth"), "count")
        .groupBy("cell_id", "depth")
        .agg(F.sum("count").alias("count"))
    )


def merge_counts(old_counts: DataFrame, delta: DataFrame) -> DataFrame:
    """Full-outer merge of count deltas; cells reaching 0 are dropped (their
    parents may then re-coarsen — the delete path of cuda/delete.cpp:44-75,
    intended semantics)."""
    merged = (
        old_counts.withColumnRenamed("count", "_old")
        .join(delta.withColumnRenamed("count", "_d"), on=["cell_id", "depth"], how="full")
        .select(
            "cell_id",
            "depth",
            (F.coalesce(F.col("_old"), F.lit(0)) + F.coalesce(F.col("_d"), F.lit(0))).alias(
                "count"
            ),
        )
    )
    return merged.where(F.col("count") > 0)


def refresh_cells(
    old_counts: DataFrame,
    delta: DataFrame,
    min_points: int = MIN_POINTS,
    min_distance: float = MIN_DISTANCE,
    max_depth: int = MAX_DEPTH,
    domain=DOMAIN,
) -> tuple[DataFrame, DataFrame]:
    """-> (new_counts, new_cells), both lazy. Splitting cells that crossed
    MIN_POINTS and collapsing underfull parents both fall out of re-deriving
    the tree from the merged counts. Nothing is persisted: a caller that
    reuses ``new_counts`` (the next refresh's ``old_counts``) caches it."""
    new_counts = merge_counts(old_counts, delta)
    cells = cells_from_counts(
        new_counts, min_points=min_points, min_distance=min_distance,
        max_depth=max_depth, domain=domain,
    )
    return new_counts, cells
