"""Raster↔vector tile assignment (M6): map images onto web-mercator tiles
and slice decoded pixels across tile boundaries.

Model: an image is anchored with its bottom-left pixel at its geotag, one
domain unit per pixel, covering [x, x+w) × [y, y+h). A pixel belongs to the
half-open tile containing its lower-left corner. At practical zooms an image
straddles at most 2×2 tiles, so slicing emits 1–4 rows per image.

Physical shape: tile ASSIGNMENT is pure Column arithmetic (JVM). SLICING
decodes pixels, so it runs in mapInPandas over Arrow batches: the split
positions are found with numpy on the footprint coordinates and each output
slice is a contiguous ndarray view — the only per-row Python is the loop over
the ≤4 slices of each image. Output rows keep the caption so the
caption-equality invariant is checkable after the widest shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.geo import EXTENT, tile_xy_cols
from ..functions.images import decode_image, encode_image

TILE_SLICE_SCHEMA = (
    "image_id string, tile_x int, tile_y int, zoom int, px0 int, py0 int, "
    "tw int, th int, tile_bytes binary, caption string"
)


def assign_tiles(df: DataFrame, zoom: int, x: str = "x", y: str = "y") -> DataFrame:
    tx, ty = tile_xy_cols(F.col(x), F.col(y), zoom)
    return df.withColumn("tile_x", tx).withColumn("tile_y", ty).withColumn(
        "zoom", F.lit(zoom).cast("int")
    )


def _axis_cuts(start: float, length: int, tile_size: float) -> list[tuple[int, int, int]]:
    """[(offset, span, tile_index)] segments of [start, start+length) split at
    multiples of tile_size (pixel p in tile floor((start+p)/tile_size))."""
    out = []
    p = 0
    while p < length:
        t = int(np.floor((start + p) / tile_size))
        # first pixel of the next tile: smallest q > p with start+q >= (t+1)*size
        nxt = int(np.ceil((t + 1) * tile_size - start))
        q = min(max(nxt, p + 1), length)
        out.append((p, q - p, t))
        p = q
    return out


def slice_tiles(images_with_geotag: DataFrame, zoom: int) -> DataFrame:
    """images (image_id, bytes, w, h, fmt, caption, x, y) → per-tile slices.
    Slices are re-encoded in the image's own fmt (raw stays lossless; rle
    re-quantizes already-quantized pixels — idempotent).

    Physical shape: the single-tile case (an image whose footprint lies
    inside ONE tile emits exactly itself — payload pass-through, no decode)
    is detected and projected ENTIRELY in the JVM: tile indices are Column
    floor-arithmetic on the same float64 values the numpy kernel uses, so
    ~98% of rows — and, critically, ~98% of the payload BYTES and captions —
    never cross the Arrow boundary into Python at all. Only tile-straddlers
    take the mapInPandas pixel-slicing kernel. At 100 TB this is the
    difference between shipping the whole corpus through the Python workers
    twice and shipping ~2% of it.

    The pass-through assumes the rle payload is CANONICAL (maximal runs, as
    encode_image emits): a valid-but-non-maximal external rle stream passes
    through unchanged where the slicing path would canonicalize it.
    Unsupported codecs raise on BOTH paths (the fast path never inspects the
    payload, so it validates fmt explicitly before passing bytes through)."""
    n = 1 << zoom
    tile_size = EXTENT / n

    cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "x", "y"]
    src = images_with_geotag.select(*cols)

    # footprint test in float64, the operations the kernel's cuts use
    xd = F.col("x").cast("double")
    yd = F.col("y").cast("double")
    jtx0 = F.floor(xd / F.lit(tile_size))
    jtx1 = F.floor((xd + F.col("w") - F.lit(1)) / F.lit(tile_size))
    jty0 = F.floor(yd / F.lit(tile_size))
    jty1 = F.floor((yd + F.col("h") - F.lit(1)) / F.lit(tile_size))
    one_tile = (jtx0 == jtx1) & (jty0 == jty1)

    def _clip(c):
        return F.least(F.greatest(c, F.lit(0)), F.lit(n - 1))

    fast_df = src.where(one_tile).select(
        F.col("image_id"),
        _clip(jtx0).cast("int").alias("tile_x"),
        (F.lit(n - 1) - _clip(jty0)).cast("int").alias("tile_y"),
        F.lit(zoom).cast("int").alias("zoom"),
        F.lit(0).cast("int").alias("px0"),
        F.lit(0).cast("int").alias("py0"),
        F.col("w").cast("int").alias("tw"),
        F.col("h").cast("int").alias("th"),
        F.when(F.col("fmt").isin("raw", "rle"), F.col("bytes"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("codec(s) ['"),
                    F.col("fmt"),
                    F.lit(
                        "'] not available in this container "
                        "(see functions.images.decode_image)"
                    ),
                )
            )
        )
        .alias("tile_bytes"),
        F.col("caption"),
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            bad = set(map(str, b["fmt"].unique())) - {"raw", "rle"}
            if bad:
                raise NotImplementedError(
                    f"codec(s) {sorted(bad)} not available in this container "
                    "(see functions.images.decode_image)"
                )
            # every row here straddles a tile edge: the JVM ``one_tile``
            # filter, in the same float64 operations, kept the rest
            x = b["x"].to_numpy(np.float64)
            y = b["y"].to_numpy(np.float64)
            w = b["w"].to_numpy(np.int64)
            h = b["h"].to_numpy(np.int64)
            rows: dict[str, list] = {k: [] for k in (
                "image_id", "tile_x", "tile_y", "zoom", "px0", "py0", "tw", "th",
                "tile_bytes", "caption",
            )}
            for i in range(len(b)):
                img_id = b["image_id"].iat[i]
                buf, fmt, cap = b["bytes"].iat[i], str(b["fmt"].iat[i]), b["caption"].iat[i]
                px = decode_image(buf, int(w[i]), int(h[i]), fmt)  # (h, w, 3), row 0 = bottom
                for cx0, cw, tx in _axis_cuts(float(x[i]), int(w[i]), tile_size):
                    for cy0, ch, ty_raw in _axis_cuts(float(y[i]), int(h[i]), tile_size):
                        sl = np.ascontiguousarray(px[cy0 : cy0 + ch, cx0 : cx0 + cw])
                        rows["image_id"].append(img_id)
                        rows["tile_x"].append(min(max(tx, 0), n - 1))
                        rows["tile_y"].append(n - 1 - min(max(ty_raw, 0), n - 1))
                        rows["zoom"].append(zoom)
                        rows["px0"].append(cx0)
                        rows["py0"].append(cy0)
                        rows["tw"].append(cw)
                        rows["th"].append(ch)
                        rows["tile_bytes"].append(encode_image(sl.ravel(), fmt))
                        rows["caption"].append(cap)
            yield pd.DataFrame(rows)

    slow_df = src.where(~one_tile).mapInPandas(gen, TILE_SLICE_SCHEMA)
    return fast_df.unionByName(slow_df)


def tile_pyramid(
    tile_stats: DataFrame,
    zoom: int,
    to_zoom: int = 0,
    values: tuple[str, ...] = ("n_points",),
) -> DataFrame:
    """Roll per-tile aggregates at ``zoom`` up to every level down to
    ``to_zoom``: one (zoom, tile_x, tile_y, Σvalues) row per ancestor tile.

    Parent tile = coordinate >> 1, which is exact for BOTH tile-y
    conventions: for the flipped web-mercator y used here,
    (2^z - 1 - raw) >> 1 == 2^(z-1) - 1 - (raw >> 1), so shifting the
    flipped value IS the flipped parent (complement and shift commute), and
    floor(y·2^(z-1)/e) == floor(floor(y·2^z/e)/2) makes the rollup identical
    to direct assignment at the coarser zoom.

    Same physical shape as the quadtree count rollup: the input is already
    tile-sized (never points), so ONE posexplode over the ancestor structs +
    ONE groupBy — map-side partial aggregation collapses the shallow zooms
    before the only exchange."""
    levels = F.array(*[
        F.struct(
            F.lit(zoom - k).cast("int").alias("zoom"),
            F.shiftright(F.col("tile_x"), k).cast("int").alias("tile_x"),
            F.shiftright(F.col("tile_y"), k).cast("int").alias("tile_y"),
        )
        for k in range(zoom - to_zoom + 1)
    ])
    return (
        tile_stats.select(F.explode(levels).alias("_t"), *values)
        .select("_t.zoom", "_t.tile_x", "_t.tile_y", *values)
        .groupBy("zoom", "tile_x", "tile_y")
        .agg(*[F.sum(v).alias(v) for v in values])
    )


def reassemble(slices_pdf: pd.DataFrame, w: int, h: int, fmt: str) -> np.ndarray:
    """Test helper: paste one image's tile slices back into an (h, w, 3) buffer."""
    out = np.zeros((h, w, 3), dtype=np.uint8)
    for _, r in slices_pdf.iterrows():
        sl = decode_image(r["tile_bytes"], int(r["tw"]), int(r["th"]), fmt)
        out[r["py0"] : r["py0"] + r["th"], r["px0"] : r["px0"] + r["tw"]] = sl
    return out
