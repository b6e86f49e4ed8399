"""The contract queries: one Spark plan per engine operator (plus the
training-data pipeline ops) over the TPC-H-derived fixtures, each gated
against its DuckDB oracle in ``oracles``. ``entrypoints.QUERIES`` orders
them for the driver."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import cells as C
from ..functions import text as TXT
from ..operators import dedup as D
from ..operators import knn as K
from ..operators import pip as P
from ..operators import quadtree as QT
from ..operators import search as S
from ..operators import tiles as T
from .fixtures import (
    BBOX_BOXES,
    CELL_DEPTH,
    CORPUS_QUALITY_MIN,
    CORPUS_TOKEN_BUDGET,
    DOC_CLUSTERS_K,
    EX,
    EY,
    KMV_DEPTH,
    KMV_K,
    LOOKUP_MISSING,
    LSH_BANDS,
    LSH_PLANES,
    LSH_THRESHOLD,
    MIX_BUDGET_PER_CLUSTER,
    MIX_CLUSTERS,
    MUT_DEL_MOD,
    MUT_DELETES_FIXED,
    MUT_INSERTS,
    PIP_HEX_DX,
    PIP_HEX_DY,
    PIP_HEX_POLYS,
    PIP_HEXAGON,
    PIP_HOLE_POLYS,
    PIP_JOIN_POLYS,
    PIP_RECTS,
    PRUNE_BOXES,
    QUANTILE_QS,
    RANGE_BOXES,
    TILE_ZOOM,
    VID_H,
    VID_LIMIT,
    VID_NF,
    VID_W,
    _cells,
    _part_images,
    _phash_images,
    _points,
    _queries,
    _t,
)


def _as_double(df: DataFrame) -> DataFrame:
    """Coordinates cast to double, so squared distances stay integer-exact
    (float32 subtraction would round at 1e12 magnitudes)."""
    return df.withColumn("x", F.col("x").cast("double")).withColumn(
        "y", F.col("y").cast("double")
    )


def _count_min_pid(hit: DataFrame, key: str = "poly_id") -> DataFrame:
    """Per-region result of a containment query: hit count and min pid."""
    return hit.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_points"), F.min("pid").alias("min_pid")
    )


def q_quadrant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+A1: depth-1 quadrant classification + grouped count."""
    pts = _points(spark, sf_dir)
    quad = QT.with_cell_id(pts, 1, out="cell_id").select(
        (F.col("cell_id") - 1).cast("int").alias("quadrant")
    )
    return quad.groupBy("quadrant").agg(F.count(F.lit(1)).alias("n_points"))


def q_cell_counts_d4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 over the hierarchy: occupied depth-4 cell histogram."""
    pts = _points(spark, sf_dir)
    return (
        QT.with_cell_id(pts, 4)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_quadtree_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5/X6: the adaptive quadtree relation (capped at depth 8)."""
    return _cells(spark, sf_dir).select(
        "cell_id", "depth", F.col("count").alias("cnt"), "is_leaf"
    )


def q_quadrant_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via the candidate-chain equi-join strategy."""
    return S.quadrant_search_prefix(
        _queries(spark, sf_dir), _cells(spark, sf_dir), max_depth=CELL_DEPTH
    ).select("qid", S.RESULT_COL)


def q_quadrant_search_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 via the reference-shaped broadcast nested-loop strategy."""
    return S.quadrant_search_broadcast(
        _queries(spark, sf_dir), _cells(spark, sf_dir)
    ).select("qid", S.RESULT_COL)


def q_validate_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+A2 as a product operator: the reference's validate_grid pass over
    the built index. The oracle states the invariant — (N, N, 0, 0, 0) —
    from an independent count, so ANY violation (unclaimed point, leaf
    overlap, split miscount) hash-mismatches the driver gate."""
    return QT.validate_cells(
        _points(spark, sf_dir), _cells(spark, sf_dir), max_depth=CELL_DEPTH
    )


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J2: exact point membership in the located quadrant."""
    pts = _points(spark, sf_dir)
    # pid can collide in the synthetic lineitem (duplicate order/line pairs),
    # so the query id derives from the coordinates themselves (unique per
    # point, duplicates collapse to one query — same rule in the oracle SQL).
    existing = (
        pts.where(F.col("pid") % 3001 == 0)
        .select(
            (F.col("x").cast("long") * 1_000_000 + F.col("y").cast("long")).alias("qid"),
            "x",
            "y",
        )
        .distinct()
    )
    missing = spark.createDataFrame(LOOKUP_MISSING, "qid long, x float, y float").select(
        "qid", F.col("x").cast("float"), F.col("y").cast("float")
    )
    queries = existing.unionByName(missing)
    found = S.point_lookup(
        queries, QT.with_cell_id(pts, CELL_DEPTH), _cells(spark, sf_dir),
        max_depth=CELL_DEPTH,
    )
    return found.select("qid", S.RESULT_COL, "found")


def _boxes_hit(pts: DataFrame, boxes, id_name: str) -> DataFrame:
    """ONE scan of ``pts`` against a literal boxes array: explode the array,
    keep (point, box) pairs where the inclusive bbox contains the point. The
    plan has a single Scan node (explode amplifies the narrow projection by
    len(boxes), never re-reads the table)."""
    arr = F.array(*[
        F.struct(
            F.lit(bid).cast("int").alias("bid"),
            F.lit(float(x1)).alias("x1"), F.lit(float(y1)).alias("y1"),
            F.lit(float(x2)).alias("x2"), F.lit(float(y2)).alias("y2"),
        )
        for bid, x1, y1, x2, y2 in boxes
    ])
    return (
        pts.select("pid", "x", "y", F.explode(arr).alias("_b"))
        .where(
            (F.col("x") >= F.col("_b.x1")) & (F.col("x") <= F.col("_b.x2"))
            & (F.col("y") >= F.col("_b.y1")) & (F.col("y") <= F.col("_b.y2"))
        )
        .select(F.col("_b.bid").alias(id_name), "pid")
    )


def q_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: inclusive bbox predicate + counts — single pass over the points for
    all boxes (literal boxes array exploded against one scan)."""
    return _count_min_pid(
        _boxes_hit(_points(spark, sf_dir), RANGE_BOXES, "box_id"), "box_id"
    )


def q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: ancestor-count propagation — depth-6 counts rolled up to depth-2."""
    pts = _points(spark, sf_dir)
    d6 = QT.with_cell_id(pts, 6).groupBy("cell_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        d6.select(QT.ancestor_col(F.col("cell_id"), 4).alias("cell2"), "n")
        .groupBy("cell2")
        .agg(F.sum("n").alias("n_points"))
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: exact kNN (k=5), integer squared distance, pid tie-break, over
    double coords (``_as_double``)."""
    res = K.knn_bruteforce(
        _as_double(_queries(spark, sf_dir, limit=10)), _as_double(_points(spark, sf_dir)), k=5
    )
    return res.select(
        "qid", "pid", F.col("dist2").cast("long").alias("dist2"),
        F.col("rank").cast("int").alias("rank"),
    )


def q_knn_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 scale path: grid-blocked two-pass kNN — EXACT, so it shares the
    brute-force SQL oracle (hash-gated). Coords cast to double for
    integer-exact squared distances, as q_knn."""
    pts = _as_double(_points(spark, sf_dir))
    # depth DERIVED from density (choose_knn_depth): target ~30·k points per
    # cell, so the radius-1 ring (9 cells) carries >> k candidates and bounds
    # the k-th distance tightly while the ring join touches ~0.2% of the
    # table per query. Reproduces the hand-tuned depth 6 at
    # sf0.1 (150 pts/cell) and self-tunes at other scales.
    depth = K.choose_knn_depth(pts.count(), k=5)
    res = K.knn_cells_exact(
        _as_double(_queries(spark, sf_dir, limit=10)), pts, k=5, depth=depth, radius=1
    )
    return res.select("qid", "pid", F.col("dist2").cast("long").alias("dist2"),
                      F.col("rank").cast("int").alias("rank"))


def q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join (ST_DWithin analogue): all (query, point) pairs within
    Euclidean distance 20,000 — grid-blocked broadcast equi-join + exact
    codegen distance filter; the points table never shuffles. Coords cast to
    double so dist2 stays integer-exact (as q_knn)."""
    res = S.distance_join(
        _as_double(_queries(spark, sf_dir, limit=50)),
        _as_double(_points(spark, sf_dir)),
        radius=20000.0,
    )
    return res.select("qid", "pid", F.col("dist2").cast("long").alias("dist2"))


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 id layer: zoom-4 web-mercator tile histogram over events points."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr(EX).cast("double").alias("x"), F.expr(EY).cast("double").alias("y")
    )
    return (
        T.assign_tiles(ev, 4)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 pyramid: zoom-6 event-tile counts rolled up to every zoom 0..6 —
    the raster-layer twin of the quadkey ancestor rollup (A4). Parent tile =
    coordinate >> 1 (exact for the flipped y, see tiles.tile_pyramid)."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr(EX).cast("double").alias("x"), F.expr(EY).cast("double").alias("y")
    )
    base = (
        T.assign_tiles(ev, 6)
        .groupBy("tile_x", "tile_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )
    return T.tile_pyramid(base, zoom=6, to_zoom=0)


def q_event_window_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling-window × tile aggregation: the batch twin of the
    streaming tile_window_counts operator (same code path; the watermark is a
    streaming-only no-op). Window start exported as epoch seconds so Spark
    and DuckDB compare tz-independently."""
    from ..streaming.windows import tile_window_counts

    ev = _t(spark, sf_dir, "events").select(
        F.expr(EX).cast("double").alias("x"),
        F.expr(EY).cast("double").alias("y"),
        F.col("ts").alias("event_time"),
    )
    agg = tile_window_counts(ev, zoom=4, window="6 hours")
    return agg.select(
        F.unix_timestamp(F.col("win.start")).alias("win_start"),
        "tile_x",
        "tile_y",
        F.col("n_events"),
    )


def q_density_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew probe: 20 densest depth-6 cells (deterministic order)."""
    pts = _points(spark, sf_dir)
    return (
        QT.with_cell_id(pts, 6)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy(F.desc("n_points"), F.asc("cell_id"))
        .limit(20)
    )


def _pip_polys(spark: SparkSession, polys) -> DataFrame:
    """A fixed polygon list ``[(poly_id, (k, 2) vertices)]`` as the polygon
    relation ``point_in_polygons_join`` takes."""
    return spark.createDataFrame(
        [(pid, [float(v) for v in vs[:, 0]], [float(v) for v in vs[:, 1]])
         for pid, vs in polys],
        "poly_id int, xs array<double>, ys array<double>",
    )


def q_pip_rects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (rect subset): the PIP join over four rects; rects ≡ inclusive
    bbox in SQL."""
    import numpy as np

    polys = [
        (i, np.array([[x1, y1], [x2, y1], [x2, y2], [x1, y2]], dtype=np.float64))
        for i, x1, y1, x2, y2 in PIP_RECTS
    ]
    return _count_min_pid(
        P.point_in_polygons_join(_points(spark, sf_dir), _pip_polys(spark, polys))
    )


def q_pip_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 (convex polygon): the ray cast vs a half-plane SQL oracle."""
    import numpy as np

    return _count_min_pid(
        P.point_in_polygons_join(
            _points(spark, sf_dir), _pip_polys(spark, [(0, np.array(PIP_HEXAGON))])
        )
    )


def q_pip_polygon_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 at relation scale (VERDICT r3 item 3): polygons as a DATAFRAME —
    grid-blocking equi-join + JVM ray cast, no polygon data in any task
    closure. 120 rects (SQL-expressible as inclusive bboxes)."""
    polys = spark.range(PIP_JOIN_POLYS).select(
        F.col("id").alias("poly_id"),
        F.expr(
            "transform(array(0, 1, 1, 0), i -> CAST((id * 9176) % 900000 "
            "+ i * (20000 + (id % 7) * 11000) AS DOUBLE))"
        ).alias("xs"),
        F.expr(
            "transform(array(0, 0, 1, 1), i -> CAST((id * 5923) % 900000 "
            "+ i * (15000 + (id % 5) * 13000) AS DOUBLE))"
        ).alias("ys"),
    )
    return _count_min_pid(
        P.point_in_polygons_join(_points(spark, sf_dir), polys, block_depth=4)
    )


def q_pip_polygon_join_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 relational path on NON-axis-aligned geometry (r4): 60 convex
    hexagons as a DataFrame through the same blocking join + ray cast; the
    oracle states containment as the six integer half-plane inequalities
    per polygon — a fully independent formulation
    (the rect variant's bbox oracle coincides with the blocking prefilter;
    this one does not)."""
    cx = "CAST((id * 6151) % 800000 + 100000 AS DOUBLE)"
    cy = "CAST((id * 7477) % 800000 + 100000 AS DOUBLE)"
    s = "CAST(10000 + (id % 7) * 4000 AS DOUBLE)"
    hexes = spark.range(PIP_HEX_POLYS).select(
        F.col("id").alias("poly_id"),
        F.expr(
            "transform(array"
            + str(tuple(PIP_HEX_DX))
            + f", d -> {cx} + d * {s})"
        ).alias("xs"),
        F.expr(
            "transform(array"
            + str(tuple(PIP_HEX_DY))
            + f", d -> {cy} + d * {s})"
        ).alias("ys"),
    )
    return _count_min_pid(
        P.point_in_polygons_join(_points(spark, sf_dir), hexes, block_depth=4)
    )


def q_pip_polygon_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 relational path on MULTI-RING polygons (VERDICT r4 item 6): 80
    rect-with-centered-rect-hole donuts as array-of-array ring columns
    through the same blocking join + ray cast (even-odd rule — the
    hole is punched regardless of ring winding). Every coordinate is an
    integer multiple of 0.25 (exact in float64), so the oracle is exactly
    SQL-expressible: outer inclusive containment AND NOT strict hole
    interior (a point ON the hole edge is boundary-inclusive inside)."""
    x1 = "CAST((id * 9176) % 900000 AS DOUBLE)"
    y1 = "CAST((id * 5923) % 900000 AS DOUBLE)"
    w = "CAST(20000 + (id % 7) * 11000 AS DOUBLE)"
    h = "CAST(15000 + (id % 5) * 13000 AS DOUBLE)"
    donuts = spark.range(PIP_HOLE_POLYS).select(
        F.col("id").alias("poly_id"),
        F.expr(
            f"array(array({x1}, {x1} + {w}, {x1} + {w}, {x1}), "
            f"array({x1} + {w}/4, {x1} + 3*{w}/4, {x1} + 3*{w}/4, {x1} + {w}/4))"
        ).alias("xs"),
        F.expr(
            f"array(array({y1}, {y1}, {y1} + {h}, {y1} + {h}), "
            f"array({y1} + {h}/4, {y1} + {h}/4, {y1} + 3*{h}/4, {y1} + 3*{h}/4))"
        ).alias("ys"),
    )
    return _count_min_pid(
        P.point_in_polygons_join(
            _points(spark, sf_dir), donuts, block_depth=4, rule="evenodd"
        )
    )


def q_mutation_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1+M2 incremental path: insert batch, then delete batch, cells refreshed
    from count DELTAS only (no points rescan) — must equal a full rebuild of
    the mutated point set (the SQL oracle rebuilds). Lazy, and persists
    nothing."""
    from ..operators import mutations as M
    from ..operators.quadtree import counts_from_points

    pts = _points(spark, sf_dir)
    ins = spark.createDataFrame(MUT_INSERTS, "pid long, x float, y float").select(
        "pid", F.col("x").cast("float"), F.col("y").cast("float")
    )
    # effective inserts: rows whose exact (x, y) is absent (insert-if-missing)
    ins_eff = ins.join(
        pts.select(F.col("x").alias("_ex"), F.col("y").alias("_ey")),
        on=(F.col("x") == F.col("_ex")) & (F.col("y") == F.col("_ey")),
        how="left_anti",
    )
    pts1 = pts.unionByName(ins_eff.select(*pts.columns))
    dels = pts.where(F.col("pid") % MUT_DEL_MOD == 0).select("x", "y").unionByName(
        spark.createDataFrame(MUT_DELETES_FIXED, "x float, y float").select(
            F.col("x").cast("float"), F.col("y").cast("float")
        )
    )
    # effective deletes: every surviving row matching a delete key (multiplicity!)
    del_eff = pts1.join(
        dels.select(F.col("x").alias("_dx"), F.col("y").alias("_dy")).distinct(),
        on=(F.col("x") == F.col("_dx")) & (F.col("y") == F.col("_dy")),
        how="left_semi",
    )
    old_counts = counts_from_points(pts, max_depth=CELL_DEPTH)
    delta = (
        M.counts_delta(ins_eff, +1, max_depth=CELL_DEPTH)
        .unionByName(M.counts_delta(del_eff, -1, max_depth=CELL_DEPTH))
        .groupBy("cell_id", "depth")
        .agg(F.sum("count").alias("count"))
    )
    _, cells = M.refresh_cells(old_counts, delta, max_depth=CELL_DEPTH)
    return cells.select("cell_id", "depth", F.col("count").alias("cnt"), "is_leaf")


def q_neighbor_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell function layer: depth-5 ring-1 neighbor expansion (kNN's candidate
    generator) for the first 50 query points."""
    q = _queries(spark, sf_dir, limit=50)
    d5 = QT.with_cell_id(q, 5)
    ring = d5.select(
        "qid", F.explode(C.neighbor_ring_col(F.col("cell_id"), 5, 1)).alias("neighbor_id")
    )
    return ring.where(F.col("neighbor_id") >= 0)


def q_cluster_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/M3: cluster-by-cell layout (salted shuffle + in-partition sort);
    per-prefix extent stats must be invariant to the physical shuffle."""
    from ..operators.cluster import cluster_by_cell

    pts = QT.with_cell_id(_points(spark, sf_dir), CELL_DEPTH)
    clustered = cluster_by_cell(
        pts, prefix_depth=2, max_depth=CELL_DEPTH,
        salt_threshold=500, salt_buckets=8, salt_tiebreak="pid",
    )
    return clustered.groupBy("cell_prefix").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("cell_id").alias("min_cell"),
        F.max("cell_id").alias("max_cell"),
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 over 16 bits) via 4-band LSH
    blocking — pigeonhole-complete for ≤3 differing bits, so the banded
    engine path returns exactly the oracle's brute-force pair set."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sims = D.simhash(docs)
    bands = sims.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(F.col("simhash"), 4 * b).bitwiseAND(F.lit(15)).alias("key"),
                )
                for b in range(4)
            ])
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    pairs = (
        bands.alias("l")
        .join(bands.alias("r"), on=["band", "key"], how="inner")
        .where(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .distinct()
    )
    return pairs


def q_cell_cardinality_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-cardinality SKETCH over the occupied
    depth-10 cells (r4) — how many grid cells hold data, estimated from the
    256 smallest md5 order statistics instead of a full distinct count.
    KMV is the ENGINE-PORTABLE sketch: Spark's HLL++ and DuckDB's
    approx_distinct are engine-specific and can never cross the hash gate,
    but both engines compute identical md5 order statistics, so the
    ESTIMATE ITSELF is oracle-gated bit-for-bit (estimate = ⌊(k-1)/h_(k)⌋,
    h the [0,1) hash fraction; exact count when fewer than k distinct).
    The sketch path shuffles only the distinct cell relation and ships k
    rows to the driver-side TakeOrdered — at petabyte scale the full
    distinct count next to it is the expensive branch (emitted here so the
    gate also pins the estimator's ~1/√k accuracy on the fixture)."""
    pts = _points(spark, sf_dir)
    hs = pts.select(
        F.md5(C.cell_id_col("x", "y", KMV_DEPTH).cast("string")).alias("h")
    ).distinct()
    top = hs.orderBy("h").limit(KMV_K)
    frac = F.conv(F.substring(F.col("h"), 1, 15), 16, 10).cast("long") / F.lit(
        float(16**15)
    )
    a = top.agg(F.count(F.lit(1)).alias("k"), F.max(frac).alias("hk"))
    e = hs.agg(F.count(F.lit(1)).alias("n_exact"))
    # two single-row aggregates cross-combined (the validate_cells pattern)
    return a.crossJoin(e).select(
        F.col("k").cast("int").alias("k"),
        F.when(F.col("k") < KMV_K, F.col("k"))
        .otherwise(F.floor((F.col("k") - 1) / F.col("hk")))
        .cast("long")
        .alias("est_occupied"),
        F.col("n_exact"),
    )


def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (r4): connected components over the simhash pair
    graph with the deterministic min-id representative — the step that makes
    pairwise near-dup output actionable (keep one doc per component). The
    oracle recomputes components as a recursive transitive-closure CTE over
    the same pair SQL, so the distributed pointer-jumping propagation is
    hash-gated against an independent declarative definition. hamming ≤ 1
    (vs the pair query's ≤ 3) keeps the fixture graph DISCRIMINATING: ~6
    components including one ~135-node chain (propagation depth) and
    several small isolates (separation) — at ≤ 3 everything collapses into
    one giant component and the gate would accept a buggy global-min CC."""
    pairs = (
        q_simhash_neardup(spark, sf_dir)
        .where(F.col("hamming") <= 1)
        .select("a", "b")
    )
    comps = D.connected_components(pairs)
    return comps.groupBy("component").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("node").alias("max_member"),
    )


def q_cells_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: leaf cells of the quadtree intersecting query rectangles
    (closed-box overlap) — the partition-pruning predicate as a relation."""
    bdf = spark.createDataFrame(
        BBOX_BOXES, "box_id int, bx1 double, by1 double, bx2 double, by2 double"
    )
    leaves = _cells(spark, sf_dir).where(F.col("is_leaf"))
    hit = leaves.join(
        F.broadcast(bdf),
        on=(F.col("min_x") <= F.col("bx2")) & (F.col("max_x") >= F.col("bx1"))
        & (F.col("min_y") <= F.col("by2")) & (F.col("max_y") >= F.col("by1")),
        how="inner",
    )
    return hit.groupBy("box_id").agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("count").alias("sum_cnt"),
        F.min("cell_id").alias("min_cell"),
        F.max("cell_id").alias("max_cell"),
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword segmentation: alpha runs | digit runs | single symbols."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.expr(
            r"CAST(size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)) AS INT)"
        ).alias("n_bpe"),
    )


# ----------------------- image-table queries (north rule) -----------------


def _map_small_images(imgs: DataFrame, rows, schema: str) -> DataFrame:
    """Decode the image payloads, resize them 8×8 nearest-neighbour, and
    turn each group into result rows with ``rows(group, small, w, h)``.
    Decode and resize run vectorized once per SAME-SHAPE (w, h, fmt) group
    of an Arrow batch (mapInPandas), not per image."""
    from collections.abc import Iterator

    import pandas as pd

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..functions.images import decode_images_batch, resize_nearest_batch

        for b in batches:
            parts = []
            for (w, h, fmt), g in b.groupby(["w", "h", "fmt"], sort=False):
                px = decode_images_batch(list(g["bytes"]), int(w), int(h), str(fmt))
                parts.append(rows(g, resize_nearest_batch(px, 8, 8), int(w), int(h)))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    return imgs.mapInPandas(run, schema)

def q_image_neardup_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup: decode real payloads → resize 8×8 →
    64-bit average-hash (``phash64_batch``) → banded Hamming self-join
    (8 bands of 8 bits, pigeonhole-complete for hamming ≤ 7, reported at
    ≤ 4 — never all-pairs). Finds the planted lossy re-encodes (hamming
    0–3) and most patch-edited variants (0–6), zero spurious pairs; the
    oracle re-derives every phash bit as splitmix64 arithmetic and compares
    ALL pairs brute-force, so the banding's completeness is itself gated."""

    def phash(g, small, w: int, h: int):
        import pandas as pd

        from ..functions.images import phash64_batch

        return pd.DataFrame(
            {"image_id": g["image_id"].to_numpy(), "phash": phash64_batch(small)}
        )

    hashes = _map_small_images(
        _phash_images(spark, sf_dir), phash, "image_id string, phash long"
    )
    return D.hamming_pairs(
        hashes, "phash", "image_id", bits=64, bands=8, max_hamming=4
    ).select("a", "b", F.col("hamming").cast("int").alias("hamming"))


def q_tile_slice_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 raster→vector slicing: run the REAL pixel-slicing kernel and verify
    its emitted geometry (tile ids, slice count, pixel conservation, caption
    integrity) against pure key arithmetic in SQL."""
    imgs = _part_images(spark, sf_dir)
    slices = T.slice_tiles(imgs, zoom=TILE_ZOOM)
    expected_cap = F.concat(F.lit("cap "), F.substring(F.col("image_id"), 2, 20))
    return slices.groupBy("image_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tiles"),
        F.sum(F.col("tw").cast("long") * F.col("th")).alias("sum_px"),
        F.min("tile_x").alias("min_tx"),
        F.max("tile_x").alias("max_tx"),
        F.min("tile_y").alias("min_ty"),
        F.max("tile_y").alias("max_ty"),
        F.sum((F.col("caption") == expected_cap).cast("long")).alias("n_cap_ok"),
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature extraction: decode → nearest-neighbor resize 8×8 →
    per-channel integer SUMS (mapInPandas over Arrow batches). Integer sums
    (not rounded means) so the DuckDB oracle reproduces them exactly as pure
    splitmix64 arithmetic — the pipeline is real decode/resize on real
    payloads, hash-gated end to end."""

    def channel_sums(g, small, w: int, h: int):
        import numpy as np
        import pandas as pd

        sums = small.astype(np.int64).reshape(len(g), -1, 3).sum(axis=1)
        return pd.DataFrame(
            {
                "image_id": g["image_id"].to_numpy(),
                "sum_r": sums[:, 0],
                "sum_g": sums[:, 1],
                "sum_b": sums[:, 2],
                "n_px": w * h,
            }
        )

    return _map_small_images(
        _part_images(spark, sf_dir),
        channel_sums,
        "image_id string, sum_r long, sum_g long, sum_b long, n_px long",
    )


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal video columns: synthesize raw-frame payloads from order
    keys, run the REAL frame-sampling kernel (decode → uniform k=3 sample →
    per-frame rows), and verify the emitted geometry (sampled indices, byte
    volume) against pure key arithmetic in SQL."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.multimodal import frame_sample, gen_video

    keys = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") <= VID_LIMIT).select(
        F.col("o_orderkey").cast("long").alias("key"),
        F.expr(VID_W).alias("w"),
        F.expr(VID_H).alias("h"),
        F.expr(VID_NF).alias("n_frames"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"video_id": [], "frame_index": [], "n_bytes": []}
            for k, w, h, nf in zip(b["key"], b["w"], b["h"], b["n_frames"]):
                buf = gen_video(int(k), int(w), int(h), int(nf))
                for fi, fb in frame_sample(buf, int(w), int(h), int(nf), "rawv", 3):
                    rows["video_id"].append(f"v{int(k)}")
                    rows["frame_index"].append(fi)
                    rows["n_bytes"].append(len(fb))
            yield pd.DataFrame(rows)

    frames = keys.mapInPandas(gen, "video_id string, frame_index int, n_bytes long")
    return frames.groupBy("video_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("frame_index").alias("min_f"),
        F.max("frame_index").alias("max_f"),
        F.sum("frame_index").cast("long").alias("sum_f"),
        F.sum("n_bytes").alias("sum_bytes"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio columns: pcm16 payloads from customer keys, real
    decode → windowed feature extraction (mapInPandas). Features are INTEGER
    window energies (Σ sample², window count, max window energy) so the
    DuckDB oracle re-derives them from the same splitmix64 arithmetic and the
    query is hash-gated end to end — the same integer-sum re-derivation that
    oracled image_features (float RMS = sqrt(energy/window)/32768 is a pure
    display transform, pytest-gated in tests/test_multimodal.py)."""
    from collections.abc import Iterator

    import pandas as pd

    from ..functions.multimodal import audio_energy_windows, decode_audio, gen_audio

    keys = _t(spark, sf_dir, "customer").where(F.col("c_custkey") <= VID_LIMIT).select(
        F.col("c_custkey").cast("long").alias("key"),
        (F.lit(800) + (F.col("c_custkey") % 5) * 400).cast("int").alias("n_samples"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = {"clip_id": [], "n_windows": [], "energy_sum": [], "max_win_energy": []}
            for k, ns in zip(b["key"], b["n_samples"]):
                samples = decode_audio(gen_audio(int(k), int(ns)), "pcm16")
                en = audio_energy_windows(samples, 256)
                rows["clip_id"].append(f"a{int(k)}")
                rows["n_windows"].append(len(en))
                rows["energy_sum"].append(int(en.sum()) if len(en) else 0)
                rows["max_win_energy"].append(int(en.max()) if len(en) else 0)
            yield pd.DataFrame(rows)

    return keys.mapInPandas(
        gen, "clip_id string, n_windows int, energy_sum long, max_win_energy long"
    )


# ------------------------- training-data pipeline -------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TXT.token_count_col(F.col("text")).cast("int").alias("n_tok"),
        F.length(F.trim(F.col("text"))).cast("int").alias("n_chr"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(TXT.lang_id_col(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TXT.quality_score_col(F.col("text")).alias("quality"))


def q_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-quality order statistics without a global sort (the
    threshold-calibration step before a keep/drop quality gate): two-phase
    bounded histogram + boundary-bin selection (`operators/quantiles.py`).
    The oracle states the same ranks directly over a full ORDER BY — the
    engine must reproduce the exact values while never sorting the
    relation."""
    from ..operators.quantiles import exact_quantiles

    # same fixture-parallelism rationale as decontaminate: the documents
    # fixture is ONE parquet row group = one input split, so the scoring
    # scan (the operator's dominant cost — regexp/split over every text)
    # would run single-task at any core count. The pre-score repartition
    # spreads the cheap raw rows; a real corpus scan arrives in thousands
    # of splits and the repartition coalesces into the same shape.
    # exact_quantiles materializes the scored projection internally, so
    # scoring runs ONCE regardless of the operator's two passes.
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    scored = docs.select(TXT.quality_score_col(F.col("text")).alias("quality"))
    return exact_quantiles(scored, "quality", QUANTILE_QS)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def q_minhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH banding: bucket histogram (collision candidates)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sh = D.shingle_set(docs)
    buckets = D.lsh_buckets(D.minhash_signatures(sh))
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("bucket").alias("n_buckets"),
        F.min("bucket").alias("min_bucket"),
    )


def q_ngram_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard: 10 most similar pairs among doc_id < 80."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 80)
    ids = docs.select(F.col("doc_id").alias("a"))
    pairs = ids.crossJoin(docs.select(F.col("doc_id").alias("b"))).where(
        F.col("a") < F.col("b")
    )
    jac = D.jaccard_pairs(D.shingle_set(docs), pairs)
    return jac.orderBy(F.desc("jaccard"), F.asc("a"), F.asc("b")).limit(10)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return D.simhash(docs)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for the first 5 vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") < 5)
    res = K.ann_bruteforce(emb, qv, k=10)
    return res.select("q_vec_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank"))


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN. Hash-gated end to end: the oracle re-derives the
    md5-ordered ⌈√N⌉ centroid sample, the rounded-cosine argmax bucket
    assignment, the n_probe=4 probe set, and the final top-k in SQL — the
    approximation is deterministic, so approximate ≠ unverifiable. Recall
    vs brute force is additionally pytest-gated (n_probe sweep)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") < 5)
    res = K.ann_ivf(emb, qv, k=10)
    return res.select("q_vec_id", "vec_id", "sim", F.col("rank").cast("int").alias("rank"))


def q_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic document clustering (embedding-space data mixing): every
    embedding assigned to its nearest of 16 md5-sample centroids, rolled up
    per cluster. Hash-gated end to end — the oracle re-derives the centroid
    set, the rounded-cosine argmax assignment, and the per-cluster members
    exactly; the per-member similarity crosses the gate as an exact integer
    sum of the 6-dp-scaled sims (float addition order never crosses the
    engine boundary). The kmeans-refined variant is pytest-gated
    (not SQL-replayable)."""
    emb = _t(spark, sf_dir, "embeddings")
    a = K.cluster_assign(emb, DOC_CLUSTERS_K)
    return a.groupBy(F.col("cluster").cast("int").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("vec_id").alias("min_vec"),
        F.sum(F.round(F.col("sim") * 1e6).cast("long")).alias("sim6_sum"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-blocked cosine near-dup pairs (sim ≥ 0.4 — threshold chosen so the
    fixture corpus yields non-trivial pairs; production corpora use ≥0.95)."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dups(emb, threshold=0.4).select("label", "a", "b", "sim")


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNLABELED near-dup via seeded random-projection LSH (sign-bit banding):
    the scale path when no blocking label exists or a label is hot. The
    oracle reproduces the identical plane matrix + banding, so the result is
    hash-gated end to end."""
    emb = _t(spark, sf_dir, "embeddings")
    return D.embedding_near_dups_lsh(
        emb, threshold=LSH_THRESHOLD, n_planes=LSH_PLANES, bands=LSH_BANDS
    )


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TXT.fingerprint_col(F.col("text")).alias("fingerprint"))


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) local fingerprints per document, aggregated to a
    compact hash-gateable summary (count + lexicographic extremes of the
    selected set)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    sel = D.winnow_fingerprints(docs)
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.min("fingerprint").alias("min_fp"),
        F.max("fingerprint").alias("max_fp"),
    )


def q_winnow_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS near-dup pairs (r4): docs sharing ≥ 3 winnow fingerprints after
    dropping fingerprints in > 10 docs (boilerplate filter = skew cap).
    Local-fingerprint pairing carries the shared-substring guarantee the
    MinHash pair query lacks; at these thresholds the fixture yields ~570
    pairs of 19,900 possible — discriminating both ways."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    return D.winnow_near_dups(docs)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥ 5 distinct char
    20-shingles with any doc of the held-out benchmark (doc_id % 50 == 0 —
    10 docs standing in for an eval set). The benchmark shingle relation is
    broadcast, so the corpus never shuffles; only matched (corpus, bench,
    shingle) rows enter the one grouped count. At the fixture's thresholds
    this flags ~10 of 4,900 possible pairs, including one genuine
    contamination (123 shared shingles) — discriminating both ways."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    # the fixture is ONE tiny parquet file = one input split; a real corpus
    # scan has thousands of splits. Spread the (cheap, pre-shingle) rows so
    # the shingle codegen stage gets the parallelism a real scan would —
    # measured 3.4 s single-task → sub-second at 32 (sf0.1)
    corpus = docs.where(F.col("doc_id") % 50 != 0).repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    return D.decontaminate(corpus, bench, k=20, min_overlap=5).select(
        F.col("doc_id").alias("corpus_id"), "bench_id", "n_overlap"
    )


def _budget_cut(sel: DataFrame, budget: int, groups: list[str]) -> DataFrame:
    """Greedy token-budget selection over ``sel`` (doc_id, quality, n_tok
    and the ``groups`` columns): each group, or the whole relation when
    ``groups`` is empty, gets ``budget`` tokens filled highest quality
    first, doc_id tie-break. The SCALABLE two-phase shape: the
    quality→token-sum histogram is tiny (quality has 4 dp — ≤10⁴+1 bins per
    group), the budget cut is a window over that histogram, and only each
    group's single BOUNDARY bin needs a row-level ordered scan (bounded by
    the docs sharing one quality value). All joins against the histogram
    products are broadcasts. The naive formulation — one cumulative-sum
    window over the whole corpus — is a single-reducer sort and never runs
    here."""
    from pyspark.sql import Window

    # the binned selection feeds THREE consumers (bin histogram, full-bin
    # semi-join, boundary-bin scan); the eager localCheckpoint materializes
    # the upstream pipeline once instead of three times (guide §1.2) — a
    # fresh RDD per call, reclaimed when the frame drops, never a
    # cross-run cache
    d = sel.withColumn(
        "_bin", F.round(F.col("quality") * 10000).cast("long")
    ).localCheckpoint(eager=True)
    keys = [*groups, "_bin"]
    wc = Window.partitionBy(*groups).orderBy(F.desc("_bin"))
    cum = (
        d.groupBy(*keys)
        .agg(F.sum("n_tok").alias("_btok"))
        .withColumn("_cum", F.sum("_btok").over(wc))
    )
    full = cum.where(F.col("_cum") <= budget).select(*keys)
    # bins with _cum > budget form a suffix of each group's bin order; the
    # first of that suffix is the group's boundary bin (window recomputed
    # on the filtered relation — rn=1 is the highest such bin)
    boundary = (
        cum.where(F.col("_cum") > budget)
        .withColumn("_rn", F.row_number().over(wc))
        .where(F.col("_rn") == 1)
        .select(*keys, (F.lit(budget) - (F.col("_cum") - F.col("_btok"))).alias("_left"))
    )
    in_full = d.join(F.broadcast(full), on=keys, how="left_semi")
    wd = Window.partitionBy(*keys).orderBy("doc_id")
    part = (
        d.join(F.broadcast(boundary), on=keys)
        .withColumn("_c", F.sum("n_tok").over(wd))
        .where(F.col("_c") <= F.col("_left"))
    )
    out = [*groups, "doc_id", "quality", "n_tok"]
    return in_full.select(out).unionByName(part.select(out))


def q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget selection over the curated corpus (highest
    quality first, doc_id tie-break), as ``_budget_cut`` over the whole
    corpus."""
    return _budget_cut(q_corpus_select(spark, sf_dir), CORPUS_TOKEN_BUDGET, [])


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced data mixing — the pass that turns a curated corpus
    into a TRAINING MIX: assign every doc to a semantic cluster
    (`cluster_assign` over its embedding), then give each cluster the same
    token budget, filled highest-quality-first (doc_id tie-break). Equal
    per-cluster budgets rebalance the corpus toward uniform domain coverage
    (the head cluster is capped, the tail clusters are taken whole).

    Scale shape: corpus_sample's ``_budget_cut`` PER CLUSTER — the
    (cluster × quality-bin) token histogram is tiny, and the cumulative
    window runs over the histogram partitioned by cluster (never a global
    or per-cluster row sort)."""
    emb = _t(spark, sf_dir, "embeddings")
    cl = K.cluster_assign(emb, MIX_CLUSTERS).select(
        F.col("vec_id").alias("doc_id"), "cluster"
    )
    sel = q_corpus_select(spark, sf_dir).join(cl, on="doc_id")
    return _budget_cut(sel, MIX_BUDGET_PER_CLUSTER, ["cluster"])


def q_corpus_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation composition — the training-set selection pass a
    data pipeline actually runs: exact-dedup representatives (min doc_id per
    normalized-text fingerprint) filtered to quality ≥ threshold, with the
    per-doc token/char budget the sampler downstream consumes. One
    hash-groupBy shuffle (the dedup) + a semi-join + pure-Column scoring —
    the composition shape that scales to the full corpus."""
    # one-row-group fixture → single-task scoring without the repartition
    # (same rationale as decontaminate / quality_quantiles); both the md5
    # fingerprint branch and the scoring branch inherit the parallelism
    docs = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    keep = D.exact_dedup_groups(docs).select(F.col("keep_id").alias("doc_id"))
    sel = docs.join(keep, on="doc_id", how="left_semi").select(
        "doc_id",
        TXT.quality_score_col(F.col("text")).alias("quality"),
        TXT.token_count_col(F.col("text")).cast("int").alias("n_tok"),
        F.length(F.trim(F.col("text"))).cast("int").alias("n_chr"),
    )
    # materialize the scored columns BEFORE the quality gate: a filter on a
    # computed column is pushed below the projection and duplicates the
    # scoring expression into it (one eval in the filter, one in the
    # project — guide §4.4's shape, measured ~2× the scoring scan); the
    # checkpointed relation is 4 skinny columns per surviving doc and the
    # gate becomes a cheap column test. Fresh RDD per call — never a
    # cross-run cache.
    sel = sel.localCheckpoint(eager=True)
    return sel.where(F.col("quality") >= CORPUS_QUALITY_MIN)


def q_corpus_select_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation with NEAR-dup clustering (r4): simhash pair graph →
    connected components → keep each component's min-id REPRESENTATIVE
    (docs outside the graph keep themselves) → quality gate. The realistic
    "one doc per duplicate cluster" selection a training pipeline runs when
    exact dedup is not enough; the oracle re-derives the entire chain
    (simhash → recursive-CTE components → quality) in one SQL statement."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    pairs = (
        q_simhash_neardup(spark, sf_dir)
        .where(F.col("hamming") <= 1)
        .select("a", "b")
    )
    comps = D.connected_components(pairs)
    drop = comps.where(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    sel = docs.join(drop, on="doc_id", how="left_anti").select(
        "doc_id",
        TXT.quality_score_col(F.col("text")).alias("quality"),
        TXT.token_count_col(F.col("text")).cast("int").alias("n_tok"),
    )
    return sel.where(F.col("quality") >= CORPUS_QUALITY_MIN)

def _scratch_table(spark: SparkSession, sf_dir: str, name: str, **options):
    """An empty ``SnapshotTable`` (``options`` pass to its constructor)
    under ``<tmp>/<name>/``. The root is keyed by the Spark application id,
    not just the sf name: two driver processes running the suite
    concurrently on one host (bench + correctness harness) must not rmtree
    each other's in-flight table mid-commit (ADVICE r4)."""
    import os
    import shutil
    import tempfile

    from ..sources.snapshots import SnapshotTable

    root = os.path.join(
        tempfile.gettempdir(),
        name,
        f"{os.path.basename(sf_dir.rstrip('/'))}-{spark.sparkContext.applicationId}",
    )
    shutil.rmtree(root, ignore_errors=True)
    return SnapshotTable(root, **options)


def _order_generations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The orders relation as (okey, cents, gen, bucket): three disjoint
    generations gen = o_orderkey % 3, each with its own buckets. The
    projection feeds THREE per-generation commits; the eager
    localCheckpoint scans the parquet once instead of once per commit
    (guide §1.2 materialize-once) — fresh RDD per call, reclaimed when the
    frame drops, never a cross-run cache."""
    gen = F.pmod(F.col("o_orderkey"), F.lit(3))
    return _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        gen.alias("gen"),
        F.concat(
            gen.cast("string"), F.lit("-"), F.pmod(F.col("o_orderkey"), F.lit(4)).cast("string")
        ).alias("bucket"),
    ).localCheckpoint(eager=True)


def _generation_sums(orders: DataFrame, key: str) -> DataFrame:
    """Per-``key`` row count, key sum and integer-cents sum of order rows."""
    return orders.groupBy(key).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("okey").alias("key_sum"),
        F.sum("cents").alias("cents_sum"),
    )


def q_snapshot_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink statistics + file skipping under the driver's hash gate: commit
    the points z-order-clustered (``sort_cols=[zorder_key(...)]``) with
    per-file [min, max] manifest stats on x and y, then answer bbox queries
    via ``read_where`` — the Iceberg manifest-pruning read model. The oracle
    re-derives each box as a plain filter, so a wrongly-skipped file (the
    only way manifest pruning can be incorrect) hash-mismatches. Reference
    analogue: the clustered-slicing read path (`cuda/organize_points.cu`
    quadrant layout) promised as an Iceberg-style sink in SURVEY §2 S3/X7."""
    from ..functions.geo import zorder_key

    snap = _scratch_table(
        spark,
        sf_dir,
        "geospark_prune",
        stat_cols=["x", "y"],
        sort_cols=[zorder_key([("x", 0, 1_000_000), ("y", 0, 1_000_000)])],
        # file sizing follows guide §6 (fewer, larger files): 4096-row
        # (~90 KB) files made the sf1.0 commit write ~1,500 files — the
        # write job, the driver footer-stats pass and the per-file renames
        # all scale with file COUNT (measured 8.0 s → 5.4 s commit at
        # 65536). Pruning granularity stays real at every bench scale
        # (sf1.0: ~27 z-ordered files per bucket) and the result is
        # layout-independent either way.
        max_records_per_file=65536,
    )
    pts = _points(spark, sf_dir).withColumn(
        "bucket", F.pmod(F.col("pid"), F.lit(4)).cast("string")
    )
    snap.commit(pts, "bucket")
    n_total = int(sum(snap.current()["buckets"].values()))
    outs = []
    for box_id, x1, y1, x2, y2 in PRUNE_BOXES:
        r = snap.read_where(spark, {"x": (x1, x2), "y": (y1, y2)})
        outs.append(
            r.groupBy(F.lit(box_id).cast("int").alias("box_id"))
            .agg(
                F.count(F.lit(1)).alias("n_points"),
                F.min("pid").alias("min_pid"),
                F.sum(F.col("x").cast("long") + F.col("y").cast("long")).alias(
                    "xy_sum"
                ),
            )
            .select(
                "box_id",
                "n_points",
                "min_pid",
                "xy_sum",
                F.lit(n_total).cast("long").alias("n_table_rows"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def q_snapshot_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental consumption under the driver's hash gate: three appends
    of disjoint order generations (o_orderkey % 3 → snapshot v1, v2, v3),
    then ``read_changes(from_v, 3)`` for every from-version — the
    version-watermarked ingest a training pipeline runs instead of
    rescanning the table. The oracle re-derives each increment from the raw
    orders relation (generation membership), so a file wrongly included
    (double-ingest) or missed (lost data) breaks the count/key/cents sums;
    the empty v3→v3 increment contributes no rows, pinning that a no-op
    increment is genuinely empty. Reference analogue: the engine rebuilds
    from the full text file every run (`cuda/inference.cu:24-49`); this is
    the sink-side contract that makes rescans unnecessary."""
    snap = _scratch_table(spark, sf_dir, "geospark_incr")
    orders = _order_generations(spark, sf_dir)
    for g in (0, 1, 2):  # v1, v2, v3 — disjoint buckets per generation
        snap.commit(orders.where(F.col("gen") == g).drop("gen"), "bucket")
    out = None
    for fv in (1, 2, 3):
        inc = snap.read_changes(spark, fv, 3).withColumn(
            "from_version", F.lit(fv).cast("int")
        )
        out = inc if out is None else out.unionByName(inc)
    return _generation_sums(out, "from_version")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest dedup under the driver's hash gate: three order
    generations (overlapping dedup keys o_orderkey % 1000, identical
    payloads per key) land as snapshot commits; a live stream
    (snapshot_changes source → dropDuplicatesWithinWatermark) must emit
    each key EXACTLY once across the initial load and the tailed commits.
    The memory-sink content is aggregated and re-derived by the oracle as
    SELECT DISTINCT arithmetic over raw orders. Inline asserts pin that
    duplicates actually existed and that none survived."""
    import os
    import uuid

    from ..streaming.dedup import dedup_stream
    from ..streaming.source import register_snapshot_changes

    snap = _scratch_table(spark, sf_dir, "geospark_streamdedup")
    gen = F.pmod(F.col("o_orderkey"), F.lit(3))
    dkey = F.pmod(F.col("o_orderkey"), F.lit(1000)).cast("long")
    rows = _t(spark, sf_dir, "orders").select(
        dkey.alias("dkey"),
        (dkey * 7 + 13).alias("pay"),  # payload depends ONLY on the key:
        # whichever duplicate survives, the row is identical
        (F.lit(1_700_000_000) + dkey).alias("ts_sec"),
        gen.alias("gen"),
        F.concat(
            gen.cast("string"), F.lit("-"), F.pmod(dkey, F.lit(4)).cast("string")
        ).alias("bucket"),
    ).localCheckpoint(eager=True)
    # ^ three per-generation commits consume this projection — scan once
    # (guide §1.2); fresh RDD per call, never a cross-run cache
    snap.commit(rows.where(F.col("gen") == 0), "bucket")  # v1
    register_snapshot_changes(spark)
    name = f"sdedup_{uuid.uuid4().hex[:12]}"
    stream = (
        spark.readStream.format("snapshot_changes").option("path", snap.path).load()
        .withColumn("event_time", F.timestamp_seconds(F.col("ts_sec")))
    )
    q = (
        dedup_stream(stream, ["dkey"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", os.path.join(snap.path, "_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        for g in (1, 2):  # tail two more generations while live
            snap.commit(rows.where(F.col("gen") == g), "bucket")
        q.processAllAvailable()
        got = spark.table(name)
        n_raw = snap.read(spark).count()
        n_keys = got.count()
        if n_keys >= n_raw:
            raise AssertionError(f"no duplicates in fixture ({n_keys} of {n_raw})")
        if got.select("dkey").distinct().count() != n_keys:
            raise AssertionError("a duplicate key survived the streaming dedup")
    finally:
        q.stop()
    return spark.table(name).agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("dkey").alias("key_sum"),
        F.sum("pay").alias("pay_sum"),
    )


def q_snapshot_rollback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback under the driver's hash gate: commit order generation 0
    (v1) and 1 (v2), roll back to v1 (v3 — history moves FORWARD, content
    moves back), then commit generation 2 on top (v4). The final table must
    hold exactly generations 0 and 2 — the oracle re-derives that from raw
    orders. Mid-run invariants asserted inline: v4 is CURRENT, time travel
    to v2 still sees generation 1, and the incremental reader refuses the
    non-append rollback step."""
    from ..sources.snapshots import SnapshotIncrementalError

    snap = _scratch_table(spark, sf_dir, "geospark_rollback")
    orders = _order_generations(spark, sf_dir)
    for g in (0, 1):
        snap.commit(orders.where(F.col("gen") == g), "bucket")  # v1, v2
    snap.rollback(1)                                            # v3 == v1
    snap.commit(orders.where(F.col("gen") == 2), "bucket")      # v4
    if snap.current()["version"] != 4:
        raise AssertionError(f"expected v4 CURRENT, got {snap.current()['version']}")
    # history intact: v2 still time-travels to generation 1's content
    v2_gens = {r["gen"] for r in snap.read(spark, version=2).select("gen").distinct().collect()}
    if v2_gens != {0, 1}:
        raise AssertionError(f"v2 time travel saw generations {v2_gens}")
    try:
        snap.read_changes(spark, 1)
        raise AssertionError("read_changes accepted the rollback step")
    except SnapshotIncrementalError:
        pass
    return _generation_sums(snap.read(spark), "gen")


def q_snapshot_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `snapshot_changes` STREAMING source under the driver's hash gate:
    three order generations committed as snapshot v1..v3; a real Structured
    Streaming query (Python DataSource, executor-side Arrow file reads)
    does the v1 initial load, then TAILS v2+v3 from the manifest offsets;
    the memory-sink content is aggregated per generation and re-derived by
    the oracle from the raw orders relation. Mid-stream invariants (initial
    load = exactly generation 0; tail adds exactly the rest; no duplicates)
    are asserted inline — a violation raises and fails the gate."""
    import os
    import uuid

    from ..streaming.source import register_snapshot_changes

    snap = _scratch_table(spark, sf_dir, "geospark_stream")
    orders = _order_generations(spark, sf_dir)
    snap.commit(orders.where(F.col("gen") == 0), "bucket")  # v1
    register_snapshot_changes(spark)
    name = f"snap_stream_{uuid.uuid4().hex[:12]}"
    q = (
        spark.readStream.format("snapshot_changes")
        .option("path", snap.path)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        # inside the table root so _scratch_table's rmtree clears it too: a
        # second call in the same session must not resume v3 offsets against
        # a fresh v1 table (the memory sink cannot recover from a checkpoint
        # anyway)
        .option("checkpointLocation", os.path.join(snap.path, "_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        n0 = spark.table(name).count()
        want0 = orders.where(F.col("gen") == 0).count()
        if n0 != want0:
            raise AssertionError(f"initial load {n0} rows, want {want0}")
        for g in (1, 2):  # v2, v3 land while the stream is live
            snap.commit(orders.where(F.col("gen") == g), "bucket")
        q.processAllAvailable()
        tailed = spark.table(name)
        if tailed.select("okey").distinct().count() != tailed.count():
            raise AssertionError("streaming tail duplicated rows")
    finally:
        q.stop()
    return _generation_sums(spark.table(name), "gen")


def q_snapshot_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under the driver's hash gate: v1 commits half the
    customer buckets WITHOUT the segment column, v2 commits the rest WITH it
    (union-by-name add-column, the Iceberg model). The result unions the
    time-travel read of v1 (its own, narrower schema — ``seg`` re-added as
    an explicit null so both arms align) with the current read, where v1-era
    files must null-fill ``seg`` and v2 files carry values. The oracle
    re-derives both arms from the raw customer relation, so a reader that
    samples the wrong parquet footer (hiding or mistyping the evolved
    column) or leaks v2 values into v1-era rows breaks the hash."""
    snap = _scratch_table(spark, sf_dir, "geospark_evo")
    g = F.pmod(F.col("c_custkey"), F.lit(8))
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("ckey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        g.cast("string").alias("bucket"),
        F.col("c_mktsegment").alias("seg"),
        g.alias("g"),
    )
    snap.commit(cust.where(F.col("g") < 4).drop("seg", "g"), "bucket")  # v1
    snap.commit(cust.where(F.col("g") >= 4).drop("g"), "bucket")  # v2: + seg
    v1 = (
        snap.read(spark, version=1)
        .withColumn("seg", F.lit(None).cast("string"))
        .withColumn("version", F.lit(1).cast("int"))
    )
    v2 = snap.read(spark).withColumn("version", F.lit(2).cast("int"))
    # nulls cross the driver's value-hash as a SENTINEL (no real segment is
    # the empty string, so '' pins exactly "evolved column not backfilled")
    return v1.unionByName(v2).select(
        "version", "ckey", "cents", "bucket",
        F.coalesce(F.col("seg"), F.lit("")).alias("seg"),
    )


def q_snapshot_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 sink under the driver's hash gate (VERDICT r3 item 8): snapshot
    commit → merge-on-read delta append → lineage + merged read-back, all
    re-derived independently by the SQL oracle. Exercises the manifest
    protocol end to end: bucketed staged commit, per-bucket lineage counts,
    delta fold (insert-if-missing + equality-delete), version chain."""
    snap = _scratch_table(spark, sf_dir, "geospark_lineage")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        F.pmod(F.col("c_custkey"), F.lit(8)).cast("string").alias("bucket"),
    )
    snap.commit(cust, "bucket")
    v1 = snap.current()["buckets"]
    delta = (
        cust.where(F.col("c_custkey") % 13 == 0)
        .withColumn("_op", F.lit("d"))
        .unionByName(
            cust.where(F.col("c_custkey") % 29 == 0)
            .withColumn("c_custkey", F.col("c_custkey") + 1_000_000)
            .withColumn("_op", F.lit("i"))
        )
    )
    snap.append_deltas(delta, "bucket", None, key_cols=["c_custkey"])
    m = snap.current()
    lineage = spark.createDataFrame(
        [
            (b, int(v1[b]), len(m.get("deltas", {}).get(b, [])), int(m["version"]))
            for b in sorted(v1)
        ],
        "bucket string, n_base long, n_batches int, version int",
    )
    merged = snap.read(spark).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("cents").alias("cents_sum")
    )
    return lineage.join(merged, on="bucket")
