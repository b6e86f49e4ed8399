"""geospatial_cuda_spark — a brand-new PySpark-native spatial-join + tiling engine.

Built from scratch with the query/data-processing capabilities of the
reference CUDA quadtree engine (``ayushnaique/geospatial_cuda``), re-expressed
Spark-first: DataFrame/SQL plans optimized by Catalyst, with Arrow-vectorized
pandas UDF kernels (never per-row Python) replacing the CUDA kernels.

Layout
------
- ``session``    — SparkSession factory with scale-tuned configs (AQE, Arrow).
- ``datagen``    — deterministic synthetic image+caption table (FIXTURES.md F1)
                   and bare point/query fixtures (F2/F4).
- ``oracle``     — numpy golden re-implementation of the reference kernels'
                   exact semantics (categorize/reorder/build/search).
- ``functions/`` — scalar/vector kernels: quadkey cell encoding (float32,
                   reference-faithful), tile math, text metrics, vector math,
                   image codecs.
- ``operators/`` — relational operators: adaptive quadtree build, cell
                   clustering, quadrant-search join, point-in-polygon, kNN/ANN,
                   dedup family, tile slicing, insert/delete mutations.
- ``sources/``   — table loaders + Iceberg-style snapshot commit/resume.
- ``streaming/`` — Structured Streaming micro-batch upsert/delete surface.
- ``pipeline``   — the flagship images pipeline (geotag → quadtree → search →
                   tile slicing → snapshot commit), defined once.
- ``planaudit``  — plan-marker policy and executed-plan introspection.
- ``contract/``  — the driver contract's oracle-gate harness: the contract
                   queries, their TPC-H-derived fixtures and their DuckDB
                   oracles. The engine never imports it.
- ``entrypoints`` — the driver registry: ordered ``QUERIES``, ``ORACLES``
                   and the flagship ``entry()``.
"""

__version__ = "0.1.0"

DOMAIN = (0.0, 0.0, 1_000_000.0, 1_000_000.0)
"""Default spatial domain, mirroring the reference generator's
``[0, 1e6)²`` uniform point cloud (/root/reference/generate_points.py:12-16)."""

MIN_POINTS = 5
"""Quadtree split floor (/root/reference/cuda/create_grid.cu:16)."""

MIN_DISTANCE = 5.0
"""Quadtree extent floor (/root/reference/cuda/create_grid.cu:17)."""

MAX_DEPTH = 18
"""Depth at which the reference's extent rule (< 5 on both axes) always
halts for the 1e6-wide domain: 1e6/2^18 ≈ 3.8 < 5."""
