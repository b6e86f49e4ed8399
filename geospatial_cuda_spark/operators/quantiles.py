"""Exact distributed order statistics WITHOUT a global sort.

The naive exact quantile is `ORDER BY value` + pick ranks — a full-relation
sort whose final merge concentrates on few reducers; at 100 TB that is the
slowest possible plan for a handful of output rows. Spark's built-in
`percentile_approx` avoids the sort but is approximate AND its sketch
merge order is not engine-portable (no DuckDB-replayable oracle).

`exact_quantiles` is exact and sort-free — the same two-phase
histogram-cut discipline as the corpus budget selection
(`contract.queries._budget_cut`):

1. one grouped COUNT over a FIXED, bounded bin grid (bins is a constant,
   never data-dependent), partial-aggregated map-side; the ≤`bins`-row
   histogram is the only thing the driver sees;
2. exact rank arithmetic on the histogram pins each target rank to one
   boundary bin; ONLY those bins' rows (≈ n/bins of the relation per
   target) are re-read, ranked within their bin by a window, and the
   offset row selected. Rows outside boundary bins never shuffle at all.

Worst case: a degenerate distribution concentrating one bin (e.g. a
constant column) makes the boundary-bin window that bin-sized; refine by
recursing the same histogram on the bin's sub-range if that ever matters —
for genuinely constant data any row is the answer.

Reference scope: the reference engine has no aggregation beyond counts
(`cuda/create_grid.cu` count rollups); this is pipeline-layer scope (corpus
quality calibration — choosing keep/drop thresholds needs exact quantiles
of the quality score at 100 TB).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    qs: list[float],
    bins: int = 10_001,
    vmin: float = 0.0,
    vmax: float = 1.0,
) -> DataFrame:
    """(q, value) for each q in ``qs``: value = the ``floor(q·(n-1))``-th
    (0-based) smallest of ``value_col`` — exact, deterministic under ties
    (the rank's VALUE is tie-invariant), never sorting the relation.
    NULL and NaN rows are EXCLUDED before ranking (the numpy/SQL
    percentile convention; binning them would silently shift every rank).

    ``[vmin, vmax]`` must cover the data (values are clamped into the edge
    bins, which only affects which bin a rank lands in, never the exact
    within-bin selection). The histogram shape is O(bins) driver memory —
    a constant, data-independent bound.

    The skinny (value, bin) projection is materialized once and both
    passes (histogram, boundary-bin select) read it — the upstream scoring
    scan executes exactly once, and the two passes can never observe
    different data. The ``raise_error`` guard on the preserved-targets side
    of the selection join stays as a structural invariant check (a missing
    target now indicates an operator bug, not source drift).
    """
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must be in [0, 1], got {qs}")
    if vmax <= vmin:
        raise ValueError(f"empty value range [{vmin}, {vmax}]")
    spark = df.sparkSession
    # Materialize the skinny value projection ONCE (eager localCheckpoint),
    # BEFORE the null/NaN filter and the bin derivation touch it:
    # - the operator needs two passes (histogram, then boundary-bin
    #   selection); without the checkpoint each pass re-executes the
    #   caller's full upstream — for quality_quantiles that is the
    #   regexp-heavy scoring scan, the operator's dominant cost;
    # - filtering on a COMPUTED column makes the optimizer push the filter
    #   below the projection and duplicate the whole scoring expression
    #   into it (isnull + isnan + projection = 3 evaluations per row —
    #   measured 0.3 s → 3.7 s on the sf1.0 scoring scan); filtering the
    #   checkpointed values is a cheap column test instead.
    # 8 bytes/row in block storage, reclaimed by the ContextCleaner when
    # the returned frame is dropped — unlike a persist, a fresh RDD per
    # call can never serve a later run's pass.
    vals = df.select(F.col(value_col).cast("double").alias("_v")).localCheckpoint(
        eager=True
    )
    v = F.col("_v")
    # clamp in LONG space, cast after (ADVICE r5): floor() yields a long, and
    # an out-of-range value with |index| >= 2^31 would wrap under the int
    # cast BEFORE the old clamp could see it — silently landing in the wrong
    # edge bin instead of the promised nearest one.
    bin_col = F.least(
        F.lit(bins - 1).cast("long"),
        F.greatest(
            F.lit(0).cast("long"),
            F.floor((v - vmin) * ((bins - 1) / (vmax - vmin))),
        ),
    ).cast("int")
    binned = vals.where(v.isNotNull() & ~F.isnan(v)).select(
        v.alias("_v"), bin_col.alias("_bin")
    )
    hist = {
        r["_bin"]: r["n"]
        for r in binned.groupBy("_bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n = sum(hist.values())
    if n == 0:
        raise ValueError("exact_quantiles on an empty relation")
    # exact rank arithmetic on the tiny histogram: rank -> (bin, offset)
    order = sorted(hist)
    targets: list[tuple[float, int, int]] = []  # (q, bin, offset_within_bin)
    for q in qs:
        r = math.floor(q * (n - 1))
        below = 0
        for b in order:
            if below + hist[b] > r:
                targets.append((q, b, r - below))
                break
            below += hist[b]
    boundary = sorted({b for _, b, _ in targets})
    # tdf is the PRESERVED side of the outer join below (missing targets
    # must surface as rows), so it cannot be the broadcast build side; the
    # probe side is boundary-bin rows only, already hashed by _bin from the
    # window, so the residual shuffle is O(n/bins · |boundary|)
    tdf = spark.createDataFrame(targets, "q double, _bin int, _off long")
    ranked = (
        binned.where(F.col("_bin").isin(boundary))
        .withColumn(
            "_off",
            F.row_number().over(Window.partitionBy("_bin").orderBy("_v")) - 1,
        )
    )
    return (
        ranked.join(tdf, on=["_bin", "_off"], how="right")
        .select(
            "q",
            F.when(F.col("_v").isNotNull(), F.col("_v"))
            .otherwise(
                F.raise_error(
                    F.lit(
                        "exact_quantiles: a target rank vanished between the "
                        "histogram and selection passes — the input relation "
                        "is not stable across jobs (pin it with "
                        "localCheckpoint/persist before calling)"
                    )
                )
            )
            .alias("value"),
        )
    )
