"""The three benchmark workloads: ingest, serve and churn.

Each workload generates its inputs from the seed, sets up once per setup
repetition, runs every operation shape once before the timed window and
checks those outputs against independent recomputations, then runs timed
operations in cycles. Every call into a library module is wrapped in a
tracer span named ``<layer>.<function>``; the tracer is a no-op in timed
runs.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geospatial_cuda_spark import datagen as D, oracle as O
from geospatial_cuda_spark.entrypoints import release_index
from geospatial_cuda_spark.functions import cells as C
from geospatial_cuda_spark.functions.geo import tile_xy_np
from geospatial_cuda_spark.functions.images import decode_image
from geospatial_cuda_spark.operators import knn as K, pip as P, quadtree as QT, search as S
from geospatial_cuda_spark.operators import tiles as T
from geospatial_cuda_spark.sources.snapshots import SnapshotTable

# Input sizes per scale. "full" is what the timed runs use; "tiny" is for
# the smoke test. Sized so one run (the setups, the timed window and the
# checks) stays well inside the per-run budget on a 4-core machine.
SCALES = {
    "full": {"images": 20_000, "points": 30_000, "churn_rows": 100_000},
    "tiny": {"images": 2_000, "points": 5_000, "churn_rows": 5_000},
}

CELL_DEPTH = 12
TILE_ZOOM = 8
TILE_BUCKETS = 32
KNN_K = 5
DWITHIN_R = 20_000.0
PIP_POLYS = 120
CHURN_BATCH = 100
CHURN_COMPACT = 8
CHURN_BUCKET_DEPTH = 2
# churn delta rows are (pid long, x float, y float, bucket long, _op 1 char)
CHURN_ROW_BYTES = 8 + 4 + 4 + 8 + 1


def noop(df) -> None:
    """Run a plan to the no-op sink: every row is produced, none is kept."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _check(checks: list, name: str, ok: bool, detail: str = "") -> None:
    checks.append({"name": name, "ok": bool(ok), "detail": detail})


class Workload:
    """One workload: ``setup`` once per setup repetition (inputs generated
    from scratch each time), ``prepare`` once after them (an index build,
    whose cold run costs as much as a window), ``warm`` once before the
    timed window (it runs every operation shape once and checks those
    outputs), ``run_op`` per timed operation, ``check`` once after the
    window."""

    name = ""
    cycle: tuple[str, ...] = ()

    def __init__(self, tracer, work: str, seed: int, scale: str, corrupt: bool = False):
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.size = SCALES[scale]
        self.corrupt = corrupt
        self.spark = None
        # layer counters computed outside spans (from the checks' outputs)
        self.layer_counts: dict[str, float] = {}

    def materialize(self, df):
        """Traced runs materialize a lazy producer at its own boundary, so
        each layer's span holds its own work; timed runs stay lazy."""
        if not self.tr.enabled:
            return df
        df = df.persist()
        df.count()
        return df

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        """Build what the operations serve from, once, after the setups."""

    def warm(self) -> list[dict]:
        raise NotImplementedError

    def run_op(self, op: str, i: int) -> int:
        """Run one timed operation; return the items it completed."""
        raise NotImplementedError

    def check(self) -> list[dict]:
        return []


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------


class Ingest(Workload):
    """The flagship pipeline, one rep per operation: geotag -> quadtree build
    -> containing-quadrant search of a sample -> tile slicing -> snapshot
    commit, into a fresh table each rep."""

    name = "ingest"
    cycle = ("ingest",)

    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        n = self.size["images"]
        base = self.seed * 100_000_000
        self.images_path = os.path.join(self.work, f"images_{rep}")

        def gen(batches):
            for b in batches:
                yield D.images_pdf(b["id"].to_numpy() + base)

        with self.tr.span("datagen.images_pdf"):
            spark.range(0, n, 1, 8).mapInPandas(gen, D.IMAGES_SCHEMA).write.mode(
                "overwrite"
            ).parquet(self.images_path)

    def images(self):
        return D.with_geotag(self.spark.read.parquet(self.images_path))

    def _pipeline(self, images, tag: str, keep: bool):
        tr = self.tr
        out = os.path.join(self.work, f"out_{tag}")
        shutil.rmtree(out, ignore_errors=True)
        with tr.span("quadtree.build_cells"):
            cells = QT.build_cells(images, max_depth=CELL_DEPTH).persist()
            n_images = int(
                cells.agg(
                    F.sum(F.when(F.col("depth") == 0, F.col("count")).otherwise(F.lit(0)))
                ).first()[0]
                or 0
            )
            if tr.enabled:
                tr.count("quadtree.cells", cells.count())
                tr.count("quadtree.leaves", cells.where(F.col("is_leaf")).count())
        queries = images.where(F.col("phash") % 97 == 0).select(
            F.col("phash").alias("qid"), "x", "y"
        )
        with tr.span("search.quadrant_search_prefix"):
            found = S.quadrant_search_prefix(queries, cells, max_depth=CELL_DEPTH)
            n_located = found.where(F.col(S.RESULT_COL) >= 0).count()
            if tr.enabled:
                tr.count("search.located", n_located)
                tr.count("search.queries", queries.count())
        with tr.span("tiles.slice_tiles"):
            slices = T.slice_tiles(images, zoom=TILE_ZOOM).withColumn(
                "bucket", F.pmod(F.col("tile_x"), F.lit(TILE_BUCKETS))
            )
            slices = self.materialize(slices)
        with tr.span("snapshots.commit"):
            result = SnapshotTable(out).commit(slices, "bucket")
            if tr.enabled:
                snap = result["snapshot"]
                tr.count("snapshots.files_written", sum(len(v) for v in snap["files"].values()))
                tr.count("snapshots.bytes_written", dir_bytes(out))
                tr.count("tiles.slices", snap["metrics"]["rows_written"])
                tr.count("tiles.images", n_images)
        if tr.enabled:
            slices.unpersist()
        if keep:
            return cells, found, out, n_images
        release_index(cells)
        shutil.rmtree(out, ignore_errors=True)
        return n_images

    def run_op(self, op: str, i: int) -> int:
        return self._pipeline(self.images(), "rep", keep=False)

    def warm(self) -> list[dict]:
        """One untimed rep over the full input (it pays the first compiles),
        whose outputs are checked."""
        checks: list[dict] = []
        n = self.size["images"]
        images = self.images()
        cells, found, out, n_images = self._pipeline(images, "check", keep=True)
        if self.corrupt:
            # drop one occupied leaf: validate_cells must see its points unclaimed
            victim = (
                cells.where(F.col("is_leaf") & (F.col("count") > 0))
                .agg(F.min("cell_id")).first()[0]
            )
            cells = cells.where(F.col("cell_id") != victim)
        v = QT.validate_cells(images, cells, max_depth=CELL_DEPTH).first()
        got = (v["n_points"], v["leaf_count_sum"], v["n_unclaimed"],
               v["n_multi_claimed"], v["n_count_mismatch"])
        _check(checks, "ingest.validate_cells", got == (n, n, 0, 0, 0) and n_images == n,
               f"got {got}, want {(n, n, 0, 0, 0)}")

        bnds = cells.select("cell_id", "min_x", "min_y", "max_x", "max_y").toPandas().to_numpy(np.float64)
        fpdf = found.toPandas()
        pick = _rng(self.seed, 1).choice(len(fpdf), size=min(256, len(fpdf)), replace=False)
        sample = fpdf.iloc[np.sort(pick)]
        want = O.quadrant_search(sample["x"].to_numpy(), sample["y"].to_numpy(), bnds)
        bad = int((sample[S.RESULT_COL].to_numpy() != want).sum())
        _check(checks, "ingest.quadrant_search_vs_oracle", bad == 0 and len(sample) > 0,
               f"{bad} of {len(sample)} sampled queries differ")

        slices = SnapshotTable(out).read(self.spark)
        straddlers = (
            slices.groupBy("image_id").count().where(F.col("count") > 1)
            .orderBy("image_id").limit(64).toPandas()["image_id"].tolist()
        )
        ids = [straddlers[k] for k in sorted(
            _rng(self.seed, 2).choice(len(straddlers), size=min(4, len(straddlers)), replace=False)
        )] if straddlers else []
        src = images.where(F.col("image_id").isin(ids)).toPandas()
        sl = slices.where(F.col("image_id").isin(ids)).toPandas()
        mismatched = 0
        for _, r in src.iterrows():
            part = sl[sl["image_id"] == r["image_id"]]
            rebuilt = T.reassemble(part, int(r["w"]), int(r["h"]), r["fmt"])
            mismatched += not np.array_equal(
                rebuilt, decode_image(r["bytes"], int(r["w"]), int(r["h"]), r["fmt"])
            )
        _check(checks, "ingest.reassemble_straddlers", len(ids) > 0 and mismatched == 0,
               f"{mismatched} of {len(ids)} sampled straddling images differ")
        release_index(cells)
        shutil.rmtree(out, ignore_errors=True)
        return checks


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------


def _polygons(seed: int) -> tuple[pd.DataFrame, list[np.ndarray]]:
    """Seeded axis-aligned rectangles with integer vertices (exact in the
    Spark kernel and in the float64 oracle)."""
    rng = _rng(seed, 3)
    x0 = rng.integers(0, 900_000, PIP_POLYS)
    y0 = rng.integers(0, 900_000, PIP_POLYS)
    w = rng.integers(20_000, 90_000, PIP_POLYS)
    h = rng.integers(15_000, 70_000, PIP_POLYS)
    rings = [
        np.array([[a, b], [a + c, b], [a + c, b + d], [a, b + d]], dtype=np.float64)
        for a, b, c, d in zip(x0, y0, w, h)
    ]
    pdf = pd.DataFrame({
        "poly_id": np.arange(PIP_POLYS, dtype=np.int64),
        "xs": [r[:, 0].tolist() for r in rings],
        "ys": [r[:, 1].tolist() for r in rings],
    })
    return pdf, rings


class Serve(Workload):
    """Plan-per-query serving from a warm session: one client, closed loop,
    five request classes in a fixed cycle, each request a fresh plan."""

    name = "serve"
    cycle = ("search", "knn", "dwithin", "pip", "tile_hist")
    n_queries = {"search": 64, "knn": 16, "dwithin": 32}

    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        path = os.path.join(self.work, f"points_{rep}")
        with self.tr.span("datagen.points_table"):
            D.points_table(spark, self.size["points"], 8, seed=self.seed).write.mode(
                "overwrite"
            ).parquet(path)
        self.points = spark.read.parquet(path)

    def prepare(self) -> None:
        tr, spark, n = self.tr, self.spark, self.size["points"]
        self.points_d = self.points.select(
            "pid", F.col("x").cast("double").alias("x"), F.col("y").cast("double").alias("y")
        )
        with tr.span("quadtree.build_cells"):
            self.cells = QT.build_cells(self.points, max_depth=CELL_DEPTH).persist()
            tr.count("quadtree.cells", self.cells.count())
            if tr.enabled:
                tr.count("quadtree.leaves", self.cells.where(F.col("is_leaf")).count())
        with tr.span("quadtree.with_cell_id"):
            self.points18 = QT.with_cell_id(self.points_d, 18).persist()
            self.points18.count()
        self.knn_depth = K.choose_knn_depth(n, KNN_K)
        pdf, self.rings = _polygons(self.seed)
        self.polys = spark.createDataFrame(pdf, "poly_id long, xs array<double>, ys array<double>")

    def _queries(self, op: str, i: int):
        rng = _rng(self.seed, 4, i + 1_000_000)
        q = self.n_queries[op]
        pdf = pd.DataFrame({
            "qid": np.arange(q, dtype=np.int64),
            "x": rng.integers(0, 1_000_000, q).astype(np.float64),
            "y": rng.integers(0, 1_000_000, q).astype(np.float64),
        })
        df = self.spark.createDataFrame(pdf)
        if op == "search":  # the index is float32, as the reference's
            df = df.select("qid", F.col("x").cast("float"), F.col("y").cast("float"))
        return df, pdf

    def plan(self, op: str, i: int):
        """The request's plan (lazy) plus what the check needs to rebuild it."""
        if op == "search":
            q, pdf = self._queries(op, i)
            return S.quadrant_search_prefix(q, self.cells, max_depth=CELL_DEPTH), pdf
        if op == "knn":
            q, pdf = self._queries(op, i)
            return K.knn_cells_exact(q, self.points18, k=KNN_K, depth=self.knn_depth), pdf
        if op == "dwithin":
            q, pdf = self._queries(op, i)
            return S.distance_join(q, self.points_d, radius=DWITHIN_R), pdf
        if op == "pip":
            hits = P.point_in_polygons_join(self.points, self.polys, block_depth=4)
            return hits.groupBy("poly_id").count(), None
        # zooms 4..10 in a fixed order: request cost grows with the zoom's
        # tile count, so a seeded draw would make the mix differ per seed
        zoom = 4 + (i // len(self.cycle)) % 7
        hist = T.assign_tiles(self.points, zoom).groupBy("tile_x", "tile_y").count()
        return hist, zoom

    _SPANS = {
        "search": "search.quadrant_search_prefix",
        "knn": "knn.knn_cells_exact",
        "dwithin": "search.distance_join",
        "pip": "pip.point_in_polygons_join",
        "tile_hist": "tiles.assign_tiles",
    }

    def run_op(self, op: str, i: int) -> int:
        with self.tr.span(self._SPANS[op]):
            df, _ = self.plan(op, i)
            if op in ("pip", "tile_hist"):
                df.collect()
            else:
                noop(df)
        return 1

    def warm(self) -> list[dict]:
        """One request of each class (it pays the first compiles), each
        checked against an oracle."""
        checks: list[dict] = []
        i = 10**6  # a request index the timed stream never reaches
        pts = self.points.toPandas()
        px, py = pts["x"].to_numpy(np.float64), pts["y"].to_numpy(np.float64)
        pid = pts["pid"].to_numpy(np.int64)

        df, q = self.plan("search", i)
        got = df.toPandas().sort_values("qid")
        cpdf = self.cells.select("cell_id", "min_x", "min_y", "max_x", "max_y").toPandas()
        want = O.quadrant_search(q["x"].to_numpy(), q["y"].to_numpy(), cpdf.to_numpy(np.float64))
        bad = int((got[S.RESULT_COL].to_numpy() != want).sum())
        _check(checks, "serve.search_vs_oracle", bad == 0 and len(got) == len(q),
               f"{bad} of {len(q)} queries differ")
        self.layer_counts["search.located_ratio"] = float((want >= 0).mean())

        df, q = self.plan("knn", i)
        got = df.toPandas()
        want = []
        for qid, qx, qy in q[["qid", "x", "y"]].itertuples(index=False):
            d2 = (px - qx) ** 2 + (py - qy) ** 2
            order = np.lexsort((pid, d2))[:KNN_K]  # distance, then pid
            want += [(int(qid), r + 1, int(pid[j]), float(d2[j])) for r, j in enumerate(order)]
        # the library's own exact operator must agree with the numpy brute force too
        brute = K.knn_bruteforce(self.spark.createDataFrame(q), self.points_d, k=KNN_K)
        for name, frame in (("knn_cells_exact", got), ("knn_bruteforce", brute.toPandas())):
            frame = frame.sort_values(["qid", "rank"])
            rows = list(zip(frame["qid"].astype(int), frame["rank"].astype(int),
                            frame["pid"].astype(int), frame["dist2"].astype(float)))
            _check(checks, f"serve.{name}_vs_numpy", rows == want,
                   f"{len(rows)} rows vs {len(want)} numpy brute-force rows")
        self.layer_counts["knn.result_rows"] = len(got)

        df, q = self.plan("dwithin", i)
        got = df.select("qid", "pid").toPandas()
        want_pairs = set()
        for qid, qx, qy in q[["qid", "x", "y"]].itertuples(index=False):
            d2 = (px - qx) ** 2 + (py - qy) ** 2
            want_pairs.update((int(qid), int(p)) for p in pid[d2 <= DWITHIN_R**2])
        got_pairs = set(map(tuple, got[["qid", "pid"]].to_numpy().tolist()))
        _check(checks, "serve.dwithin_vs_numpy", got_pairs == want_pairs and len(got) == len(want_pairs),
               f"{len(got)} pairs vs {len(want_pairs)} expected")
        self.layer_counts["search.dwithin_pairs"] = len(got)

        df, _ = self.plan("pip", i)
        got = {int(r["poly_id"]): int(r["count"]) for r in df.collect()}
        want = {}
        for k, ring in enumerate(self.rings):
            (x0, y0), (x1, y1) = ring.min(0), ring.max(0)
            near = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
            hits = int(O.ray_cast_pip(px[near], py[near], ring).sum())
            if hits:
                want[k] = hits
        _check(checks, "serve.pip_vs_ray_cast", got == want,
               f"{sum(got.values())} hits vs {sum(want.values())} expected")
        self.layer_counts["pip.hits"] = sum(got.values())

        df, zoom = self.plan("tile_hist", i)
        got = {(int(r["tile_x"]), int(r["tile_y"])): int(r["count"]) for r in df.collect()}
        tx, ty = tile_xy_np(px, py, zoom)
        keys, counts = np.unique(np.stack([tx, ty], 1), axis=0, return_counts=True)
        want = {(int(a), int(b)): int(c) for (a, b), c in zip(keys, counts)}
        _check(checks, "serve.tile_hist_vs_numpy", got == want, f"zoom {zoom}: {len(got)} tiles vs {len(want)}")
        return checks


# ---------------------------------------------------------------------------
# churn
# ---------------------------------------------------------------------------


class Churn(Workload):
    """Writes beside reads on one snapshot table: each cycle is one
    merge-on-read upsert micro-batch, one small-box range read and one full
    folded read."""

    name = "churn"
    cycle = ("upsert", "range_read", "full_read")

    def setup(self, spark, rep: int) -> None:
        tr = self.tr
        self.spark = spark
        n = self.size["churn_rows"]
        self.path = os.path.join(self.work, f"table_{rep}")
        shutil.rmtree(self.path, ignore_errors=True)
        with tr.span("datagen.points_table"):
            base = QT.with_cell_id(
                D.points_table(spark, n, 8, seed=self.seed), CHURN_BUCKET_DEPTH, out="bucket"
            )
            state = base.toPandas()
        with tr.span("snapshots.commit"):
            self.snap = SnapshotTable(self.path, stat_cols=["x", "y"])
            self.snap.commit(base, "bucket")
        # the expected table state, maintained beside the table
        self.state = {
            int(p): (x, y, int(b))
            for p, x, y, b in state[["pid", "x", "y", "bucket"]].itertuples(index=False)
        }
        self.live = list(self.state)
        self.next_pid = 10**12
        self.upserts = self.compactions = 0

    def warm(self) -> list[dict]:
        for op in self.cycle:  # one untimed cycle
            self.run_op(op, -1)
        # three more batches, so the window's fourth upsert reaches the
        # compaction threshold
        for k in range(2, 2 + CHURN_COMPACT // 2 - 1):
            self.run_op("upsert", -k)
        self.bytes_at_start = dir_bytes(self.path)
        return []

    def _batch(self, i: int) -> pd.DataFrame:
        rng = _rng(self.seed, 6, i + 1_000_000)
        n_ins = CHURN_BATCH // 2
        x = rng.integers(0, 1_000_000, n_ins).astype(np.float32)
        y = rng.integers(0, 1_000_000, n_ins).astype(np.float32)
        pids = np.arange(self.next_pid, self.next_pid + n_ins, dtype=np.int64)
        self.next_pid += n_ins
        bucket = C.encode_cell_ids(x, y, CHURN_BUCKET_DEPTH).astype(np.int64)
        rows = [(int(p), a, b, int(c), "i") for p, a, b, c in zip(pids, x, y, bucket)]
        # delete distinct live keys (swap-remove keeps each pick O(1))
        for _ in range(CHURN_BATCH - n_ins):
            k = int(rng.integers(0, len(self.live)))
            self.live[k], self.live[-1] = self.live[-1], self.live[k]
            p = self.live.pop()
            rows.append((p, *self.state.pop(p), "d"))
        for p, a, b, c, _ in rows[:n_ins]:
            self.state[p] = (a, b, c)
            self.live.append(p)
        return pd.DataFrame(rows, columns=["pid", "x", "y", "bucket", "_op"]).astype(
            {"x": np.float32, "y": np.float32}
        )

    def _box(self, i: int) -> dict:
        rng = _rng(self.seed, 7, i + 1_000_000)
        x0, y0 = (float(v) for v in rng.integers(0, 980_000, 2))
        return {"x": (x0, x0 + 20_000.0), "y": (y0, y0 + 20_000.0)}

    def run_op(self, op: str, i: int) -> int:
        tr = self.tr
        if op == "upsert":
            df = self.spark.createDataFrame(
                self._batch(i), "pid long, x float, y float, bucket long, _op string"
            )
            with tr.span("snapshots.append_deltas"):
                res = self.snap.append_deltas(
                    df, "bucket", None, key_cols=["pid"], compact_threshold=CHURN_COMPACT
                )
                if tr.enabled:
                    m = res["snapshot"]
                    tr.count("snapshots.files_written", sum(
                        len(fs) for v in m.get("deltas", {}).values()
                        for seq, fs in v if seq == m["version"]
                    ))
            if i >= 0:
                self.upserts += 1
                self.compactions += len(res["compacted_buckets"])
            return 0
        if op == "range_read":
            with tr.span("snapshots.read_where"):
                df = self.snap.read_where(self.spark, self._box(i))
                noop(df)
                if tr.enabled:
                    m = self.snap.current()
                    deltas = sum(len(fs) for v in m.get("deltas", {}).values() for _, fs in v)
                    tr.count("snapshots.files_scanned", len(df.inputFiles()))
                    tr.count("snapshots.files_total",
                             sum(len(v) for v in m["files"].values()) + deltas)
            return 0
        with tr.span("snapshots.read"):
            noop(self.snap.read(self.spark))
            if tr.enabled:
                m = self.snap.current()
                tr.count("snapshots.pending_deltas",
                         sum(len(v) for v in m.get("deltas", {}).values()))
        return 1

    def check(self) -> list[dict]:
        checks: list[dict] = []
        user = self.upserts * CHURN_BATCH * CHURN_ROW_BYTES
        written = dir_bytes(self.path) - self.bytes_at_start
        self.layer_counts = {
            "write_bytes_per_user_byte": written / user if user else 0.0,
            "snapshots.bytes_written": written / self.upserts if self.upserts else 0.0,
            "snapshots.compactions": self.compactions,
        }
        got = self.snap.read(self.spark).select("pid", "x", "y", "bucket").toPandas()
        want = pd.DataFrame(
            [(p, *v) for p, v in self.state.items()], columns=["pid", "x", "y", "bucket"]
        )
        _check(checks, "churn.final_state",
               len(got) == len(want) and _state_hash(got) == _state_hash(want),
               f"{len(got)} rows vs {len(want)} expected")
        box = self._box(10**6)
        got = self.snap.read_where(self.spark, box).select("pid").toPandas()["pid"]
        (x0, x1), (y0, y1) = box["x"], box["y"]
        inside = want[(want["x"] >= x0) & (want["x"] <= x1) & (want["y"] >= y0) & (want["y"] <= y1)]
        _check(checks, "churn.range_read", sorted(got.tolist()) == sorted(inside["pid"].tolist()),
               f"{len(got)} rows vs {len(inside)} expected")
        return checks


def _state_hash(pdf: pd.DataFrame) -> str:
    s = pdf.sort_values("pid")
    h = hashlib.sha256()
    h.update(s["pid"].to_numpy(np.int64).tobytes())
    h.update(s["x"].to_numpy(np.float32).tobytes())
    h.update(s["y"].to_numpy(np.float32).tobytes())
    h.update(s["bucket"].to_numpy(np.int64).tobytes())
    return h.hexdigest()


WORKLOADS = {w.name: w for w in (Ingest, Serve, Churn)}
