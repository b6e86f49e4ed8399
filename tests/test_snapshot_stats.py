"""Manifest column statistics + file skipping + z-order clustered writes.

The sink's manifests (sources/snapshots.py) optionally record per-FILE
[min, max] for chosen columns, harvested from the same parquet-footer pass
the commit already does for row counts; ``read_where`` then skips base files
whose range cannot intersect the query predicate — the Iceberg
manifest-pruning model, decided driver-side without opening a single file.
``zorder_key`` (functions/geo.py) makes the pruning BITE on 2-D predicates
by clustering the write so each file covers a small spatial square.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_cuda_spark.functions.geo import zorder_key, zorder_np
from geospatial_cuda_spark.sources.snapshots import SnapshotTable

W = 1_000_000


def _points_df(spark, n=4000, seed=11):
    rng = np.random.default_rng(seed)
    import pandas as pd

    pdf = pd.DataFrame(
        {
            "pid": np.arange(n, dtype=np.int64),
            "x": rng.integers(0, W, n).astype(np.float64),
            "y": rng.integers(0, W, n).astype(np.float64),
            "bucket": (np.arange(n) % 4).astype(str),
        }
    )
    return spark.createDataFrame(pdf), pdf


def _base_files(df) -> set[str]:
    return {f for f in df.inputFiles()}


def test_zorder_key_matches_numpy(spark):
    df, pdf = _points_df(spark, 500)
    got = (
        df.select(
            "pid", zorder_key([("x", 0, W), ("y", 0, W)], bits=12).alias("z")
        )
        .toPandas()
        .sort_values("pid")["z"]
        .to_numpy()
    )
    want = zorder_np(
        pdf["x"].to_numpy(), pdf["y"].to_numpy(), [(0, W), (0, W)], bits=12
    )
    assert (got == want).all()
    # interleave sanity: the key of (lo, lo) is 0, (hi, hi) is all ones
    n = 1 << 12
    assert want.min() >= 0 and want.max() <= n * n - 1


def test_zorder_bits_32_rejected():
    """bits=32 would land column 1's top interleaved bit on the long SIGN
    bit — high-key rows sort before low-key rows and the clustering silently
    inverts — so both the Column builder and the numpy twin refuse it."""
    import numpy as np
    import pytest

    with pytest.raises(ValueError, match="bits"):
        zorder_key([("x", 0, W), ("y", 0, W)], bits=32)
    with pytest.raises(ValueError, match="bits"):
        zorder_np(np.zeros(1), np.zeros(1), [(0, W), (0, W)], bits=32)
    # bits=31 (max) stays non-negative: sign bit untouched
    big = zorder_np(
        np.array([W - 1e-9]), np.array([W - 1e-9]), [(0, W), (0, W)], bits=31
    )
    assert big[0] > 0


def test_stats_recorded_and_pruned_read_matches_full(spark, tmp_path):
    df, pdf = _points_df(spark)
    snap = SnapshotTable(
        str(tmp_path / "t"),
        stat_cols=["x", "y"],
        sort_cols=[zorder_key([("x", 0, W), ("y", 0, W)])],
        max_records_per_file=200,
    )
    snap.commit(df, "bucket")
    m = snap.current()
    assert "stats" in m
    # every committed file carries x and y ranges
    for b, files in m["files"].items():
        for f in files:
            st = m["stats"][b][f]
            assert set(st) == {"x", "y"}
            assert st["x"][0] <= st["x"][1]

    lo, hi = 100_000, 300_000
    pruned = snap.read_where(spark, {"x": (lo, hi), "y": (lo, hi)})
    full = snap.read(spark).where(
        F.col("x").between(lo, hi) & F.col("y").between(lo, hi)
    )
    got = sorted(r["pid"] for r in pruned.collect())
    want = sorted(r["pid"] for r in full.collect())
    exp = sorted(
        pdf[(pdf.x.between(lo, hi)) & (pdf.y.between(lo, hi))]["pid"].tolist()
    )
    assert got == want == exp
    # the point of the exercise: the pruned scan reads strictly fewer files
    n_pruned, n_full = len(_base_files(pruned)), len(_base_files(full))
    assert n_pruned < n_full, (n_pruned, n_full)


def test_zorder_clusters_tighter_than_unsorted(spark, tmp_path):
    """Same data, same query box: the z-ordered table's pruned scan touches
    fewer files than the unsorted table's (whose per-file ranges are wide,
    so stats barely prune)."""
    df, _ = _points_df(spark, 8000)
    plain = SnapshotTable(
        str(tmp_path / "plain"), stat_cols=["x", "y"], max_records_per_file=250
    )
    zord = SnapshotTable(
        str(tmp_path / "zord"),
        stat_cols=["x", "y"],
        sort_cols=[zorder_key([("x", 0, W), ("y", 0, W)])],
        max_records_per_file=250,
    )
    plain.commit(df, "bucket")
    zord.commit(df, "bucket")
    box = {"x": (0, 120_000), "y": (0, 120_000)}
    f_plain = len(_base_files(plain.read_where(spark, box)))
    f_zord = len(_base_files(zord.read_where(spark, box)))
    assert f_zord < f_plain, (f_zord, f_plain)
    # and both agree with each other
    a = sorted(r["pid"] for r in plain.read_where(spark, box).collect())
    b = sorted(r["pid"] for r in zord.read_where(spark, box).collect())
    assert a == b


def test_read_where_open_bounds_and_no_stats(spark, tmp_path):
    df, pdf = _points_df(spark, 1000)
    snap = SnapshotTable(str(tmp_path / "nostats"))  # stats not opted in
    snap.commit(df, "bucket")
    assert "stats" not in snap.current()
    got = sorted(
        r["pid"] for r in snap.read_where(spark, {"x": (700_000, None)}).collect()
    )
    assert got == sorted(pdf[pdf.x >= 700_000]["pid"].tolist())


def test_all_files_pruned_keeps_schema(spark, tmp_path):
    df, _ = _points_df(spark, 500)
    snap = SnapshotTable(str(tmp_path / "empty"), stat_cols=["x"])
    snap.commit(df, "bucket")
    out = snap.read_where(spark, {"x": (2 * W, 3 * W)})  # outside the domain
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        f.name for f in snap.read(spark).schema.fields
    ]


def test_stats_survive_deltas_and_compaction(spark, tmp_path):
    df, pdf = _points_df(spark, 1200)
    snap = SnapshotTable(
        str(tmp_path / "mor"),
        stat_cols=["x"],
        sort_cols=["x"],
    )
    snap.commit(df, "bucket")
    # enough delta batches on bucket "0" to trip compaction (threshold 3)
    for i in range(3):
        batch = (
            df.where((F.col("bucket") == "0") & (F.col("pid") % 3 == i))
            .withColumn("x", F.col("x") + 1)
            .withColumn("_op", F.lit("i"))
        )
        r = snap.append_deltas(batch, "bucket", ["0"], key_cols=["pid"], compact_threshold=3)
        m = snap.current()
        assert "stats" in m, "stats dropped by a delta append"
    assert r["compacted_buckets"] == ["0"]
    m = snap.current()
    # compacted bucket's stats describe its NEW files exactly
    assert set(m["stats"]["0"]) == set(m["files"]["0"])
    # un-compacted buckets keep their original stats
    assert set(m["stats"]["1"]) == set(m["files"]["1"])
    # merged read under a range filter stays correct (inserts were no-ops:
    # insert-if-missing on existing pids)
    got = snap.read_where(spark, {"x": (0, 200_000)}).count()
    assert got == int((pdf.x <= 200_000).sum())


def test_overwrite_refreshes_stats(spark, tmp_path):
    df, _ = _points_df(spark, 800)
    snap = SnapshotTable(str(tmp_path / "ow"), stat_cols=["x"], sort_cols=["x"])
    snap.commit(df, "bucket")
    # shift bucket "2" entirely above the domain: delete its rows, then
    # insert them moved (two batches: a batch applies inserts before
    # deletes), each compacted at once
    b2 = df.where(F.col("bucket") == "2")
    moved = b2.withColumn("x", F.col("x") + 5 * W)
    for batch, op in ((b2, "d"), (moved, "i")):
        snap.append_deltas(
            batch.withColumn("_op", F.lit(op)), "bucket", ["2"],
            key_cols=["pid"], compact_threshold=1,
        )
    assert not snap.current()["deltas"]
    m = snap.current()
    for f, st in m["stats"]["2"].items():
        assert st["x"][0] >= 5 * W
    # a low-x query must now skip ALL of bucket 2's files
    lowx = snap.read_where(spark, {"x": (0, W)})
    assert not any("bucket=2" in f for f in _base_files(lowx))
