"""Contract fixtures: the TPC-H-derived tables every contract query reads,
and every constant that both the Spark query and its DuckDB oracle state.

Conventions that keep the cross-engine value-hash stable:
- coordinates derived from TPC-H keys with pure integer arithmetic (exact in
  Spark, DuckDB, and the float32 kernels alike for the depths used);
- every aggregate/computed column aliased identically on both sides;
- counts cast to BIGINT, depths/ranks to INT, similarity scores rounded to
  6 dp on both sides (the raw doubles were verified bit-identical, rounding
  is a seatbelt);
- spatial queries cap quadtree depth at 8, where the reference's float32
  midpoints are exactly representable (boundaries k·1e6/2^d with
  k·15625 < 2^24), so the float32 engine path and the integer SQL oracle
  agree exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import quadtree as QT

# ---------------------------------------------------------------------------
# Shared derivations (identical integer arithmetic in Spark exprs and SQL)
# ---------------------------------------------------------------------------

LX = "CAST((l_orderkey * 7919 + l_linenumber * 104729) % 1000000 AS BIGINT)"
LY = "CAST((l_partkey * 6101 + l_suppkey * 9973) % 1000000 AS BIGINT)"
LPID = "CAST(l_orderkey * 10 + l_linenumber AS BIGINT)"

QX = "CAST((c_custkey * 7919 + 13) % 1000000 AS BIGINT)"
QY = "CAST((c_custkey * 104729 + 37) % 1000000 AS BIGINT)"

EX = "CAST((event_id * 7919) % 1000000 AS BIGINT)"
EY = "CAST((user_id * 104729 + event_id) % 1000000 AS BIGINT)"

CELL_DEPTH = 8  # float32 == exact integer arithmetic holds through depth 10


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select(
        F.expr(LPID).alias("pid"),
        F.expr(LX).cast("float").alias("x"),
        F.expr(LY).cast("float").alias("y"),
    )


def _queries(spark: SparkSession, sf_dir: str, limit: int = 200) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= limit)
        .select(
            F.col("c_custkey").cast("long").alias("qid"),
            F.expr(QX).cast("float").alias("x"),
            F.expr(QY).cast("float").alias("y"),
        )
    )


_CELLS_CACHE: dict[tuple[str, str, str], DataFrame] = {}
_CELLS_CACHE_MAX = 6  # index relations per app; LRU-evicted (ADVICE r2:
# unbounded growth across datasets was a slow cache leak in long sessions)


def release_index(df: DataFrame) -> None:
    """Unpersist an index relation: the release point of every
    cache-eviction site. The builds persist nothing of their own, so the
    relation's own cache is all there is to drop."""
    df.unpersist()


def _cached_index(spark: SparkSession, sf_dir: str, kind: str, build) -> DataFrame:
    """Per-(application, dataset) cache of the engine's INDEX relations.

    A deployment builds its index once (or loads it from the committed
    snapshot) and serves every lookup from it; rebuilding per query would
    bill index construction into every search. LRU-evicts (unpersisting)
    beyond ``_CELLS_CACHE_MAX`` entries so a session iterating many
    datasets does not accumulate executor storage forever."""
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    df = _CELLS_CACHE.pop(key, None)  # pop+reinsert = move to MRU position
    if df is None:
        df = build().persist()
    _CELLS_CACHE[key] = df
    while len(_CELLS_CACHE) > _CELLS_CACHE_MAX:
        oldest = next(iter(_CELLS_CACHE))  # insertion order = LRU order
        release_index(_CELLS_CACHE.pop(oldest))
    return df


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quadtree cells relation for a dataset (see _cached_index)."""
    return _cached_index(
        spark, sf_dir, "cells",
        lambda: QT.build_cells(_points(spark, sf_dir), max_depth=CELL_DEPTH),
    )


# point_lookup's fixed probe points (qid, x, y), beside the lineitem-derived ones
LOOKUP_MISSING = [(-1, 123457.0, 654321.0), (-2, 42.0, 777777.0), (-3, 999998.0, 3.0)]

RANGE_BOXES = [
    (0, 100_000, 100_000, 400_000, 300_000),
    (1, 0, 0, 50_000, 50_000),
    (2, 500_000, 500_000, 1_000_000, 1_000_000),
]

PIP_RECTS = [
    (0, 100_000, 100_000, 400_000, 300_000),
    (1, 350_000, 250_000, 700_000, 600_000),
    (2, 0, 900_000, 120_000, 1_000_000),
    (3, 880_000, 0, 1_000_000, 90_000),
]

PIP_HEXAGON = [
    (500_000.0, 200_000.0), (800_000.0, 350_000.0), (800_000.0, 650_000.0),
    (500_000.0, 800_000.0), (200_000.0, 650_000.0), (200_000.0, 350_000.0),
]

# polygon-relation PIP fixture: 120 deterministic rects derived from the id
# by pure integer arithmetic (exact in Spark, the float64 kernel, and SQL)
PIP_JOIN_POLYS = 120


# convex-relation PIP fixture: 60 id-derived hexagons (center + fixed
# integer offset pattern × per-id scale — all-integer vertices, so the
# float64 cross products are exact in the kernel AND in SQL half-planes)
PIP_HEX_POLYS = 60
PIP_HEX_DX = (2, 1, -1, -2, -1, 1)
PIP_HEX_DY = (0, 2, 2, 0, -2, -2)


PIP_HOLE_POLYS = 80


MUT_INSERTS = [(-101, 9981.0, 9979.0), (-102, 123457.0, 654321.0), (-103, 1.0, 999999.0)]
MUT_DELETES_FIXED = [(9981.0, 9979.0), (100.0, 100.0)]  # inserted point + absent point
MUT_DEL_MOD = 997


KMV_K = 256
KMV_DEPTH = 10  # exact JVM encode territory; cells stay sparse at sf0.1


# cells_bbox_join's query rectangles (box_id, x1, y1, x2, y2), closed
BBOX_BOXES = [
    (0, 100_000.0, 100_000.0, 400_000.0, 300_000.0),
    (1, 0.0, 0.0, 50_000.0, 50_000.0),
    (2, 740_000.0, 250_000.0, 760_000.0, 270_000.0),
]


TILE_ZOOM = 6  # 2^6 tiles/axis → tile size 15625 domain units (exact integer)

IMG_W = "CAST(16 + (p_partkey % 3) * 8 AS INT)"
IMG_H = "CAST(16 + ((p_partkey + 1) % 3) * 8 AS INT)"
IMG_X = "CAST((p_partkey * 7919 + 11) % 1000000 AS BIGINT)"
IMG_Y = "CAST((p_partkey * 104729 + 29) % 1000000 AS BIGINT)"
IMG_LIMIT = 500


PHASH_PATCH_OFFSET = 1_000_000


def _encoded_images(keys: DataFrame) -> DataFrame:
    """Append real encoded pixel payloads (``bytes``) to an image-key
    relation with columns ``key`` (the pixel seed), ``w``, ``h``, ``fmt``
    and ``patched``; ``key`` and ``patched`` are dropped, every other column
    passes through. Pixels are ``gen_pixels``; a patched image has its first
    16-byte block overwritten by a constant regenerated from
    key + ``PHASH_PATCH_OFFSET``, so the SQL oracle replays it."""
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(
        [f for f in keys.schema.fields if f.name not in ("key", "patched")]
        + [StructField("bytes", BinaryType())]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.images import encode_images_batch, gen_pixels_batch
        from ..util import hash2

        for b in batches:
            # numpy work once per SAME-SHAPE group, not per image (r3 item 6)
            payload = pd.Series(index=b.index, dtype=object)
            for (w, h, fmt, patched), g in b.groupby(
                ["w", "h", "fmt", "patched"], sort=False
            ):
                kk = g["key"].to_numpy(np.uint64)
                pix = gen_pixels_batch(kk, int(w), int(h))
                if patched:
                    patch = (
                        hash2(kk + np.uint64(PHASH_PATCH_OFFSET), np.uint64(0))
                        & np.uint64(0xFF)
                    ).astype(np.uint8)
                    pix[:, :16] = patch[:, None]
                enc = np.empty(len(g), dtype=object)
                enc[:] = encode_images_batch(pix, str(fmt))  # bytes kept intact
                payload.loc[g.index] = enc
            out = b.drop(columns=["key", "patched"])
            out["bytes"] = payload
            yield out

    return keys.mapInPandas(gen, schema)


def _part_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic image rows derived from part keys: real pixel payloads
    (gen_pixels), key-arithmetic geometry shared verbatim with the SQL oracle."""
    key = F.col("p_partkey").cast("long")
    return _encoded_images(
        _t(spark, sf_dir, "part").where(F.col("p_partkey") <= IMG_LIMIT).select(
            F.concat(F.lit("p"), key.cast("string")).alias("image_id"),
            key.alias("key"),
            F.expr(IMG_W).alias("w"),
            F.expr(IMG_H).alias("h"),
            F.when(F.col("p_partkey") % 4 == 0, "rle").otherwise("raw").alias("fmt"),
            F.concat(F.lit("cap "), key.cast("string")).alias("caption"),
            F.expr(IMG_X).cast("double").alias("x"),
            F.expr(IMG_Y).cast("double").alias("y"),
            F.lit(0).alias("patched"),
        )
    )


def _phash_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image fixture for perceptual-hash near-dup: the base images plus two
    planted near-duplicate classes a real image pipeline meets — ``d``
    (the same pixels re-encoded through the OTHER codec, so the lossy arm
    rounds every byte to even) and ``m`` (the same pixels with the first
    16-byte block overwritten by a constant — a redaction/watermark patch,
    regenerated from key+offset so the SQL oracle replays it). All payloads
    are real encoded bytes; the near-dup relationships exist only at the
    pixel level, never as metadata."""
    part = _t(spark, sf_dir, "part").where(F.col("p_partkey") <= IMG_LIMIT)

    def sel(prefix: str, fmt_col, patched: int, flt=None) -> DataFrame:
        p = part if flt is None else part.where(flt)
        return p.select(
            F.concat(F.lit(prefix), F.col("p_partkey").cast("string")).alias("image_id"),
            F.col("p_partkey").cast("long").alias("key"),
            F.expr(IMG_W).alias("w"),
            F.expr(IMG_H).alias("h"),
            fmt_col.alias("fmt"),
            F.lit(patched).alias("patched"),
        )

    base_fmt = F.when(F.col("p_partkey") % 4 == 0, "rle").otherwise("raw")
    flip_fmt = F.when(F.col("p_partkey") % 4 == 0, "raw").otherwise("rle")
    return _encoded_images(
        sel("p", base_fmt, 0)
        .unionByName(sel("d", flip_fmt, 0, F.col("p_partkey") % 3 == 0))
        .unionByName(sel("m", F.lit("raw"), 1, F.col("p_partkey") % 5 == 0))
    )


VID_LIMIT = 300
VID_W = "CAST(8 + (o_orderkey % 2) * 8 AS INT)"
VID_H = "CAST(8 + ((o_orderkey + 1) % 2) * 8 AS INT)"
VID_NF = "CAST(5 + (o_orderkey % 5) * 2 AS INT)"  # odd → exact mid-frame index


QUANTILE_QS = [0.1, 0.5, 0.9, 0.99]


DOC_CLUSTERS_K = 16


LSH_THRESHOLD = 0.3
# 28 planes / 4 bands → 7 sign bits per band key: bucket occupancy ~N/128
# per band, so candidate pairs ≈ 4·N²/256 — the 16/4 default's 4-bit keys
# pruned only ~77% of all pairs at sf0.1 (461k candidates from 2k vectors)
# and made this the slowest dedup query. Recall at sim ≥ 0.95 stays ≥ 0.92
# (pytest-gated); the oracle regenerates the identical 28×64 plane matrix.
LSH_PLANES = 28
LSH_BANDS = 4


CORPUS_QUALITY_MIN = 0.8
CORPUS_TOKEN_BUDGET = 12_000


MIX_CLUSTERS = 8
MIX_BUDGET_PER_CLUSTER = 1_500


# (box_id, x1, y1, x2, y2) inclusive — chosen so the z-ordered layout prunes
# meaningfully differently per box: a mid-domain square, a wide bottom band,
# and a small corner (tests/test_snapshot_stats.py gates that pruning
# actually skips files; this contract query gates that it never skips rows).
PRUNE_BOXES = [
    (1, 100_000, 100_000, 300_000, 300_000),
    (2, 650_000, 0, 999_999, 200_000),
    (3, 0, 900_000, 80_000, 999_999),
]
