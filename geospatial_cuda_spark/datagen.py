"""Deterministic synthetic fixtures (FIXTURES.md F1/F2/F4/F5).

All generation is a pure function of the row index under seeded splitmix64 —
no wall clock, no unseeded RNG — and is produced DISTRIBUTEDLY
(spark.range → mapInPandas), so the same table can be synthesized at any
scale without a driver bottleneck. The geotag is never stored: it derives
from phash (util.geotag_from_phash), reproducing the reference generator's
uniform integer point cloud (generate_points.py:4-16).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .functions.cells import cached_column
from .functions.images import encode_images_batch, gen_pixels_batch
from .util import geotag_from_phash, hash2, splitmix64

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)

_WORDS = (
    "grid point quad tree tile pixel spark shuffle join index cell depth "
    "raster vector caption image mercator split leaf scan"
).split()

_SIZES = (16, 24, 32)


def _captions(i: np.ndarray) -> list[str]:
    base = [f"caption {int(v)}" for v in i]
    w1 = hash2(i, np.full_like(i, 101)) % len(_WORDS)
    w2 = hash2(i, np.full_like(i, 102)) % len(_WORDS)
    w3 = hash2(i, np.full_like(i, 103)) % len(_WORDS)
    return [
        f"{b} {_WORDS[int(a)]} {_WORDS[int(c)]} {_WORDS[int(d)]}"
        for b, a, c, d in zip(base, w1, w2, w3)
    ]


def images_pdf(ids: np.ndarray) -> pd.DataFrame:
    """Generate the F1 image table rows for the given row indices."""
    i = np.asarray(ids, dtype=np.uint64)
    w = np.array([_SIZES[int(v % 3)] for v in i], dtype=np.int32)
    h = np.array([_SIZES[int((v + 1) % 3)] for v in i], dtype=np.int32)
    fmt = np.where(i % 4 == 0, "rle", "raw")
    phash = splitmix64(i).astype(np.int64)
    # synth + encode vectorized per SAME-SHAPE group (w, h, fmt), one numpy
    # pass each — not per image
    payload = np.empty(i.shape[0], dtype=object)
    shape_key = w.astype(np.int64) * 1_000_000 + h.astype(np.int64) * 10 + (
        fmt == "rle"
    ).astype(np.int64)
    for key in np.unique(shape_key):
        sel = np.flatnonzero(shape_key == key)
        gw, gh = int(w[sel[0]]), int(h[sel[0]])
        gfmt = str(fmt[sel[0]])
        pix = gen_pixels_batch(i[sel], gw, gh)
        enc = np.empty(sel.shape[0], dtype=object)
        enc[:] = encode_images_batch(pix, gfmt)  # object slots: bytes kept
        payload[sel] = enc
    return pd.DataFrame(
        {
            "image_id": [f"img{int(v):010d}" for v in i],
            "bytes": payload,
            "w": w,
            "h": h,
            "fmt": fmt,
            "caption": _captions(i),
            "phash": phash,
        }
    )


def images_table(spark: SparkSession, n: int, num_partitions: int = 32) -> DataFrame:
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield images_pdf(b["id"].to_numpy())

    return spark.range(0, n, 1, num_partitions).mapInPandas(gen, IMAGES_SCHEMA)


def with_geotag(images: DataFrame) -> DataFrame:
    """Attach the derived (x, y) — built-in column ops, JVM-side (the Column
    trees are cached per SparkContext)."""
    x, y = cached_column(("geotag",), _geotag_cols)
    return images.withColumns({"x": x, "y": y})


def _geotag_cols():
    u20 = F.shiftrightunsigned(F.col("phash"), 20)
    # phash is uniform in [0, 2^64); unsigned mod 1e6 in two steps to stay in
    # signed-long arithmetic: ((hi%m)*(2^32%m) + lo%m) % m with hi/lo 32-bit halves.
    hi = F.shiftrightunsigned(F.col("phash"), 32)
    lo = F.col("phash").bitwiseAND(F.lit(0xFFFFFFFF))
    m = F.lit(1_000_000)
    y = F.pmod(F.pmod(hi, m) * F.lit((1 << 32) % 1_000_000) + F.pmod(lo, m), m)
    hi2 = F.shiftrightunsigned(F.col("phash"), 52)
    lo2 = u20.bitwiseAND(F.lit(0xFFFFFFFF))
    x = F.pmod(F.pmod(hi2, m) * F.lit((1 << 32) % 1_000_000) + F.pmod(lo2, m), m)
    return x.cast("float"), y.cast("float")


def points_table(spark: SparkSession, n: int, num_partitions: int = 32, seed: int = 42) -> DataFrame:
    """F2 bare points: integer-valued uniforms in [0, 1e6)² (reference cloud)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            pid = b["id"].to_numpy(np.uint64)
            x = (hash2(pid, np.full_like(pid, 2 * seed)) % np.uint64(1_000_000)).astype(
                np.float32
            )
            y = (
                hash2(pid, np.full_like(pid, 2 * seed + 1)) % np.uint64(1_000_000)
            ).astype(np.float32)
            yield pd.DataFrame({"pid": pid.astype(np.int64), "x": x, "y": y})

    return spark.range(0, n, 1, num_partitions).mapInPandas(gen, "pid long, x float, y float")


REFERENCE_QUERIES = [
    # verbatim cuda/inference.cu:109-117
    (0, "s", 637093.0, 90101.0),
    (1, "i", 9981.0, 9979.0),
    (2, "s", 9981.0, 9979.0),
    (3, "s", 100.0, 100.0),
    (4, "d", 9981.0, 9979.0),
    (5, "s", 9981.0, 9979.0),
]


def queries_table(spark: SparkSession, n_random: int = 1000, seed: int = 7) -> DataFrame:
    qid = np.arange(len(REFERENCE_QUERIES), len(REFERENCE_QUERIES) + n_random, dtype=np.uint64)
    x = (hash2(qid, np.full_like(qid, 2 * seed)) % np.uint64(1_000_000)).astype(np.float64)
    y = (hash2(qid, np.full_like(qid, 2 * seed + 1)) % np.uint64(1_000_000)).astype(np.float64)
    rows = list(REFERENCE_QUERIES) + [
        (int(q), "s", float(a), float(b)) for q, a, b in zip(qid, x, y)
    ]
    return spark.createDataFrame(rows, "qid long, qtype string, x double, y double").select(
        "qid", "qtype", F.col("x").cast("float"), F.col("y").cast("float")
    )


def polygons() -> list[tuple[int, np.ndarray]]:
    """F5: 32 seeded polygons over the domain — axis-aligned rects (must agree
    with bbox containment), convex 5-12-gons, one concave star, one crossing
    the domain edge. Driver-side numpy vertex arrays (tests turn them into
    the polygon relation of ``point_in_polygons_join``)."""
    polys: list[tuple[int, np.ndarray]] = []
    pid = 0
    rng_vals = splitmix64(np.arange(4096, dtype=np.uint64))

    def rv(k: int, mod: int) -> float:
        return float(rng_vals[k % rng_vals.size] % np.uint64(mod))

    for r in range(12):  # axis-aligned rects
        x1, y1 = rv(4 * r, 900_000), rv(4 * r + 1, 900_000)
        wd, ht = 1000.0 + rv(4 * r + 2, 99_000), 1000.0 + rv(4 * r + 3, 99_000)
        polys.append(
            (pid, np.array([[x1, y1], [x1 + wd, y1], [x1 + wd, y1 + ht], [x1, y1 + ht]]))
        )
        pid += 1
    for c in range(18):  # convex 5..12-gons
        k = 5 + c % 8
        cx, cy = 100_000 + rv(100 + 3 * c, 800_000), 100_000 + rv(101 + 3 * c, 800_000)
        rad = 5_000 + rv(102 + 3 * c, 80_000)
        ang = 2 * np.pi * np.arange(k) / k + 0.1 * c
        polys.append((pid, np.stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)], 1)))
        pid += 1
    # concave star
    ang = 2 * np.pi * np.arange(10) / 10
    rad = np.where(np.arange(10) % 2 == 0, 90_000.0, 35_000.0)
    polys.append((pid, np.stack([500_000 + rad * np.cos(ang), 500_000 + rad * np.sin(ang)], 1)))
    pid += 1
    # crosses the domain edge
    polys.append(
        (pid, np.array([[950_000.0, 400_000.0], [1_050_000.0, 450_000.0],
                        [1_020_000.0, 560_000.0], [940_000.0, 520_000.0]]))
    )
    return polys
