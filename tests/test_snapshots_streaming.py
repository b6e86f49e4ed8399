"""M7 surface: snapshot commit log (Iceberg-layout semantics) + streaming
upserts. Formalizes the reference's implicit durability story — the CUDA
engine rebuilds from the text file every run (cuda/inference.cu:24-49); our
engine's equivalent of "the index survives" is the committed snapshot +
checkpointed mutation stream, with kill/resume idempotence (SURVEY §7 M7).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from geospatial_cuda_spark.sources.snapshots import SnapshotTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def bucketed_df(spark):
    return spark.range(0, 400).select(
        F.col("id").alias("pid"),
        (F.col("id") % 7).cast("string").alias("bucket"),
        (F.col("id") * 31 % 1000).alias("val"),
    )


def test_snapshot_commit_read_roundtrip(spark, bucketed_df, tmp_path):
    snap = SnapshotTable(str(tmp_path / "t"))
    res = snap.commit(bucketed_df, "bucket")
    assert res["snapshot"]["metrics"]["rows_written"] == 400
    got = snap.read(spark).select("pid", "bucket", "val")
    assert _rows(got) == _rows(bucketed_df)
    # lineage: every bucket recorded with its exact row count
    m = snap.current()
    assert sum(m["buckets"].values()) == 400
    assert m["parent_id"] is None


def test_snapshot_incremental_resume_and_noop(spark, bucketed_df, tmp_path):
    """A run killed after committing some buckets resumes by re-running with
    the full input: only the missing buckets are written."""
    snap = SnapshotTable(str(tmp_path / "t"))
    res = snap.commit(bucketed_df.where(F.col("bucket") < "2"), "bucket")
    assert res["written_buckets"] == 2
    res = snap.commit(bucketed_df, "bucket")  # resume with the full input
    assert res["written_buckets"] == 5
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) == _rows(bucketed_df)
    # snapshot chain: each commit's parent is the previous snapshot
    m = snap.current()
    assert m["version"] == 2
    assert m["parent_id"] == snap.store.read_version(1)["snapshot_id"]
    # re-run is a pure no-op: nothing written, same snapshot
    res = snap.commit(bucketed_df, "bucket")
    assert res["written_buckets"] == 0
    assert snap.current()["version"] == 2


def test_snapshot_partial_commit_reads_only_committed(spark, bucketed_df, tmp_path):
    snap = SnapshotTable(str(tmp_path / "t"))
    res = snap.commit(bucketed_df.where(F.col("bucket") < "3"), "bucket")
    assert res["written_buckets"] == 3
    visible = snap.read(spark)
    buckets = {r["bucket"] for r in visible.select("bucket").distinct().collect()}
    assert len(buckets) == 3
    expected = _rows(bucketed_df.where(F.col("bucket").isin(*buckets)))
    assert _rows(visible.select("pid", "bucket", "val")) == expected


def test_snapshot_crash_residue_invisible_then_healed(spark, bucketed_df, tmp_path):
    """A bucket written to the data dir WITHOUT a manifest publish (crash
    between write and publish) is never visible; the resumed commit rewrites
    it via dynamic partition overwrite and only then exposes it."""
    snap = SnapshotTable(str(tmp_path / "t"))
    snap.commit(bucketed_df.where(F.col("bucket") < "4"), "bucket")
    committed_version = snap.current()["version"]

    # simulate crash residue: bucket 5 lands in the data dir, manifest not
    # published — and worse, it's a HALF write (one row missing)
    residue = bucketed_df.where(F.col("bucket") == "5").where(F.col("pid") != 5)
    residue.write.partitionBy("bucket").mode("append").parquet(snap.data_dir)

    assert "5" not in {
        r["bucket"] for r in snap.read(spark).select("bucket").distinct().collect()
    }

    # resume: commit the full df — bucket 5 must be rewritten completely
    res = snap.commit(bucketed_df, "bucket")
    assert res["written_buckets"] == 3
    assert snap.current()["version"] == committed_version + 1
    got = snap.read(spark).select("pid", "bucket", "val")
    assert _rows(got) == _rows(bucketed_df)  # the half-written row is back


def _compact_away_odd_pids_of_bucket_3(snap, bucketed_df):
    """One delta batch deleting bucket 3's odd pids, compacted in the same
    publish: bucket 3's base files are replaced. Returns the survivors."""
    gone = (F.col("bucket") == "3") & (F.col("pid") % 2 == 1)
    res = snap.append_deltas(
        bucketed_df.where(gone).withColumn("_op", F.lit("d")),
        "bucket", ["3"], key_cols=["pid"], compact_threshold=1,
    )
    assert res["compacted_buckets"] == ["3"]
    return bucketed_df.where(~gone)


def test_snapshot_upsert_isolation_and_vacuum(spark, bucketed_df, tmp_path):
    """An upsert's compaction appends + repoints the manifest: prior files
    stay on disk (snapshot isolation) but are invisible to readers; vacuum
    removes exactly the unreferenced ones and the table reads identically
    afterwards."""
    snap = SnapshotTable(str(tmp_path / "t"))
    snap.commit(bucketed_df, "bucket")
    survivors = _compact_away_odd_pids_of_bucket_3(snap, bucketed_df)
    expected = _rows(survivors.select("pid", "bucket", "val"))
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) == expected
    # old bucket-3 files and the delta batch still on disk (isolation),
    # hence vacuum finds them
    removed = snap.vacuum()
    assert removed >= 1
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) == expected
    assert snap.vacuum() == 0  # idempotent


def test_snapshot_manifest_files_are_json_and_atomic(spark, bucketed_df, tmp_path):
    """The one file store's layout: each version is an O_EXCL ``v{N}.token``
    naming one complete JSON ``payload-*.json``, plus the ``CURRENT`` hint.
    No hard-link-era ``v{N}.json`` and no temp residue is ever written."""
    snap = SnapshotTable(str(tmp_path / "t"))
    assert snap.commit(bucketed_df.where(F.col("bucket") < "4"), "bucket")["written_buckets"] == 4
    assert snap.commit(bucketed_df, "bucket")["written_buckets"] == 3
    names = sorted(os.listdir(snap.manifest_dir))
    tokens = [n for n in names if n.endswith(".token")]
    payloads = [n for n in names if n.startswith("payload-")]
    assert tokens == ["v1.token", "v2.token"]
    assert len(payloads) == 2 and sorted(tokens + payloads + ["CURRENT"]) == names
    for v, t in ((1, "v1.token"), (2, "v2.token")):
        with open(os.path.join(snap.manifest_dir, t)) as f:
            payload = f.read()
        assert payload in payloads
        with open(os.path.join(snap.manifest_dir, payload)) as f:
            m = json.load(f)
        assert m["version"] == v
        assert {"version", "snapshot_id", "parent_id", "buckets", "files", "schema", "metrics"} <= set(m)
    assert snap.store.latest_hint() == 2


def test_snapshot_concurrent_commit_merged_not_dropped(spark, bucketed_df, tmp_path):
    """CAS publish (VERDICT r2 item 5): a snapshot committed by a second
    writer BETWEEN this writer's data write and its manifest publish must
    survive. Round 2's last-writer-wins CURRENT overwrite silently dropped
    it; now the loser of the version race rebuilds its manifest against the
    winner's snapshot (disjoint buckets → clean merge)."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    path = str(tmp_path / "t")
    snap1, snap2 = SnapshotTable(path), SnapshotTable(path)
    low = bucketed_df.where(F.col("bucket") < "4")
    high = bucketed_df.where(F.col("bucket") >= "4")

    orig_write = snap1._write_append
    fired = []

    def hooked(batch, bucket_col, target=None):
        orig_write(batch, bucket_col, target)
        if not fired:
            fired.append(1)
            snap2.commit(high, "bucket")  # lands before snap1's publish

    snap1._write_append = hooked
    snap1.commit(low, "bucket")
    m = snap1.current()
    assert set(m["buckets"]) == {str(i) for i in range(7)}  # nothing dropped
    assert m["version"] == 2  # both snapshots in the chain
    assert _rows(snap1.read(spark).select("pid", "bucket", "val")) == _rows(bucketed_df)


def test_snapshot_concurrent_same_bucket_conflicts(spark, bucketed_df, tmp_path):
    """Two writers committing the SAME bucket concurrently: the loser must
    raise SnapshotConflictError (its data stays unreferenced), never publish
    a manifest that mixes or clobbers the winner's bucket."""
    from geospatial_cuda_spark.sources.snapshots import (
        SnapshotConflictError,
        SnapshotTable,
    )

    path = str(tmp_path / "t")
    snap1, snap2 = SnapshotTable(path), SnapshotTable(path)
    b2 = bucketed_df.where(F.col("bucket") == "2")

    orig_write = snap1._write_append
    fired = []

    def hooked(batch, bucket_col, target=None):
        orig_write(batch, bucket_col, target)
        if not fired:
            fired.append(1)
            snap2.commit(b2, "bucket")

    snap1._write_append = hooked
    with pytest.raises(SnapshotConflictError):
        snap1.commit(b2, "bucket")
    # winner's snapshot intact and readable
    m = snap1.current()
    assert m["version"] == 1 and set(m["buckets"]) == {"2"}
    assert _rows(snap1.read(spark).select("pid", "bucket", "val")) == _rows(b2)


def test_snapshot_concurrent_upsert_same_bucket_conflicts(spark, bucketed_df, tmp_path):
    """An upsert (delta batch + compaction) whose bucket a concurrent
    snapshot changed between its write and its publish must abort, not
    publish."""
    from geospatial_cuda_spark.sources.snapshots import (
        SnapshotConflictError,
        SnapshotTable,
    )

    path = str(tmp_path / "t")
    snap1, snap2 = SnapshotTable(path), SnapshotTable(path)
    snap1.commit(bucketed_df, "bucket")
    b3 = bucketed_df.where(F.col("bucket") == "3")
    mine = F.col("pid") % 2 == 1
    theirs = F.col("pid") % 3 != 0

    def deletes(cond):
        return b3.where(cond).withColumn("_op", F.lit("d"))

    orig_write = snap1._write_append
    fired = []

    def hooked(batch, bucket_col, target=None):
        orig_write(batch, bucket_col, target)
        if not fired:
            fired.append(1)
            snap2.append_deltas(
                deletes(theirs), "bucket", ["3"], key_cols=["pid"], compact_threshold=1
            )

    snap1._write_append = hooked
    with pytest.raises(SnapshotConflictError):
        snap1.append_deltas(
            deletes(mine), "bucket", ["3"], key_cols=["pid"], compact_threshold=1
        )
    got = snap1.read(spark).where(F.col("bucket") == "3").select("pid", "bucket", "val")
    assert _rows(got) == _rows(b3.where(~theirs))  # winner's upsert intact


def test_snapshot_manifest_without_files_or_schema_is_corrupt(spark, bucketed_df, tmp_path):
    """Every manifest the table writes carries ``files`` and ``schema``. One
    without either is corrupt: without the file lists the reference set is
    unknowable (vacuum would delete live data, a commit would hide it),
    without the schema the read is. So is a payload cut short by a torn
    write: its token names it, so it was complete once. Every entry point
    refuses each case with a named error, never a bare JSON error."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotCorruptError
    from geospatial_cuda_spark.streaming.source import SnapshotChangesDataSource

    snap = SnapshotTable(str(tmp_path / "t"))
    snap.commit(bucketed_df.where(F.col("bucket") < "4"), "bucket")
    good = snap.current()
    with open(os.path.join(snap.manifest_dir, "v1.token")) as f:
        path = os.path.join(snap.manifest_dir, f.read())
    cases = {
        "v1.token names payload .* does not parse": json.dumps(good)[:40],
        "files": json.dumps({k: v for k, v in good.items() if k != "files"}),
        "schema": json.dumps({k: v for k, v in good.items() if k != "schema"}),
    }
    for match, body in cases.items():
        with open(path, "w") as f:
            f.write(body)
        with pytest.raises(SnapshotCorruptError, match=match):
            snap.read(spark)
        with pytest.raises(SnapshotCorruptError, match=match):
            snap.commit(bucketed_df, "bucket")
        with pytest.raises(SnapshotCorruptError, match=match):
            snap.rollback(1)
        with pytest.raises(SnapshotCorruptError, match=match):
            snap.vacuum()
        with pytest.raises(SnapshotCorruptError, match=match):
            SnapshotChangesDataSource({"path": snap.path}).schema()
        # nothing published
        assert not os.path.exists(os.path.join(snap.manifest_dir, "v2.token"))


def test_snapshot_null_bucket_fails_fast(spark, tmp_path):
    """ADVICE r2: rows with a NULL bucket were silently dropped by the
    three-valued-logic pending filter. Now the commit aborts before publish
    and the table state is unchanged."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    df = spark.range(0, 20).select(
        F.col("id").alias("pid"),
        F.when(F.col("id") % 5 != 0, (F.col("id") % 3).cast("string")).alias("bucket"),
        F.col("id").alias("val"),
    )
    snap = SnapshotTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="NULL bucket"):
        snap.commit(df, "bucket")
    assert snap.current() is None  # nothing published
    # clean input commits fine afterwards (residue invisible, then vacuumable)
    clean = df.where(F.col("bucket").isNotNull())
    snap.commit(clean, "bucket")
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) == _rows(clean)
    assert snap.vacuum() >= 1  # the aborted attempt's files are collected


def test_snapshot_time_travel_read(spark, bucketed_df, tmp_path):
    """Snapshot isolation makes historical reads exact: read(version=k)
    reproduces snapshot k bit-for-bit after later upserts — until vacuum
    expires the files CURRENT no longer references (Iceberg
    expire_snapshots contract)."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(str(tmp_path / "t"))
    snap.commit(bucketed_df, "bucket")
    v1_rows = _rows(snap.read(spark).select("pid", "bucket", "val"))
    survivors = _compact_away_odd_pids_of_bucket_3(snap, bucketed_df)
    # CURRENT shows the upsert; v1 still reads the original state exactly
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) != v1_rows
    assert _rows(snap.read(spark, version=1).select("pid", "bucket", "val")) == v1_rows
    with pytest.raises(FileNotFoundError, match="no snapshot v9"):
        snap.read(spark, version=9)
    # vacuum expires v1's replaced files — history is gone by design
    assert snap.vacuum() >= 1
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) == _rows(
        survivors.select("pid", "bucket", "val")
    )


def test_snapshot_current_rolls_forward_past_crashed_publisher(spark, bucketed_df, tmp_path):
    """A publisher that crashed between creating v{N}.token and repointing
    CURRENT leaves a complete manifest in the log. Readers must adopt the
    chain tip (v{N}), and the next publisher must build v{N+1} on top of it
    rather than racing the orphaned version number forever."""
    snap = SnapshotTable(str(tmp_path / "t"))
    low = bucketed_df.where(F.col("bucket") < "4")
    snap.commit(low, "bucket")
    # simulate the crash: v2 published, CURRENT still names v1
    m = snap.current()
    m2 = dict(m, version=2, snapshot_id="deadbeef", parent_id=m["snapshot_id"])
    assert snap.store.try_publish(2, m2)
    assert snap.store.latest_hint() == 1
    assert SnapshotTable(snap.path).current()["version"] == 2  # roll-forward
    res = snap.commit(bucketed_df, "bucket")
    assert res["snapshot"]["version"] == 3
    assert res["snapshot"]["parent_id"] == "deadbeef"
    assert snap.store.latest_hint() == 3  # winner repointed the hint


def test_snapshot_retired_hardlink_log_is_corrupt(spark, bucketed_df, tmp_path):
    """A table whose log is in the retired hard-link format (``v{N}.json``
    holding the manifest, ``CURRENT`` naming it) must fail loudly at every
    entry point. Read as "no committed snapshot" it would look empty, and
    a commit would see no parent and write every bucket again."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotCorruptError
    from geospatial_cuda_spark.streaming.source import SnapshotChangesDataSource

    snap = SnapshotTable(str(tmp_path / "t"))
    snap.commit(bucketed_df.where(F.col("bucket") < "4"), "bucket")
    manifest = snap.current()
    # rewrite the log as the hard-link store laid it out
    for n in os.listdir(snap.manifest_dir):
        os.remove(os.path.join(snap.manifest_dir, n))
    with open(os.path.join(snap.manifest_dir, "v1.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    with open(os.path.join(snap.manifest_dir, "CURRENT"), "w") as f:
        f.write("v1.json")

    def tree():
        return sorted(
            os.path.relpath(os.path.join(d, n), snap.path)
            for d, _, ns in os.walk(snap.path) for n in ns
        )

    before = tree()
    fresh = SnapshotTable(snap.path)
    with pytest.raises(SnapshotCorruptError, match="v1.json"):
        fresh.current()
    with pytest.raises(SnapshotCorruptError, match="v1.json"):
        fresh.read(spark)
    with pytest.raises(SnapshotCorruptError, match="v1.json"):
        fresh.commit(bucketed_df, "bucket")
    with pytest.raises(SnapshotCorruptError, match="v1.json"):
        SnapshotChangesDataSource({"path": snap.path}).schema()
    assert tree() == before  # no data file, stage dir or token written


def test_append_deltas_fold_order_delete_then_reinsert(spark, tmp_path):
    """Sequence-ordered fold: a key deleted in batch 2 and re-inserted in
    batch 3 must be PRESENT (with the new row), and a key re-inserted while
    it still exists must keep the ORIGINAL row (insert-if-missing). This
    pins the per-seq ordering of the merge-on-read read path."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(str(tmp_path / "t"))

    def delta(rows):
        return spark.createDataFrame(rows, "pid long, k long, bucket string, _op string")

    # batch 1: base inserts
    snap.append_deltas(
        delta([(1, 100, "b0", "i"), (2, 200, "b0", "i")]),
        "bucket", ["b0"], key_cols=["k"], compact_threshold=10,
    )
    # batch 2: delete k=100; attempt duplicate insert of k=200 (must not land)
    snap.append_deltas(
        delta([(0, 100, "b0", "d"), (9, 200, "b0", "i")]),
        "bucket", ["b0"], key_cols=["k"], compact_threshold=10,
    )
    # batch 3: re-insert k=100 with a new pid
    snap.append_deltas(
        delta([(7, 100, "b0", "i")]),
        "bucket", ["b0"], key_cols=["k"], compact_threshold=10,
    )
    got = sorted(tuple(r) for r in snap.read(spark).select("pid", "k").collect())
    assert got == [(2, 200), (7, 100)]
    # compaction must bake in the same state
    snap.append_deltas(
        delta([(8, 300, "b0", "i")]),
        "bucket", ["b0"], key_cols=["k"], compact_threshold=4,
    )
    m = snap.current()
    assert not any(m["deltas"].values())
    got = sorted(tuple(r) for r in snap.read(spark).select("pid", "k").collect())
    assert got == [(2, 200), (7, 100), (8, 300)]


# ---------------------------------------------------------------------------
# streaming upserts (M1/M2 as a checkpointed micro-batch stream)
# ---------------------------------------------------------------------------


def _write_batch(src_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(src_dir, exist_ok=True)
    tmp = os.path.join(src_dir, f".{name}")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(src_dir, name))


def test_streaming_upserts_apply_and_resume(spark, tmp_path):
    from geospatial_cuda_spark.streaming.upserts import PointTableStream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    stream = PointTableStream(spark, state, max_depth=6)

    _write_batch(
        src,
        "b0.json",
        [
            {"qtype": "i", "pid": 1, "x": 10.0, "y": 10.0},
            {"qtype": "i", "pid": 2, "x": 20.0, "y": 20.0},
            {"qtype": "i", "pid": 3, "x": 30.0, "y": 30.0},
        ],
    )
    stream.start(src).awaitTermination()
    pts = stream.read_points()
    assert _rows(pts.select("pid")) == [(1,), (2,), (3,)]

    # second batch: delete one, insert one new, re-insert an existing (x,y)
    # (insert-if-missing: the duplicate must NOT appear — inference.cu:146-150)
    _write_batch(
        src,
        "b1.json",
        [
            {"qtype": "d", "pid": 0, "x": 20.0, "y": 20.0},
            {"qtype": "i", "pid": 4, "x": 40.0, "y": 40.0},
            {"qtype": "i", "pid": 5, "x": 10.0, "y": 10.0},
        ],
    )
    stream.start(src).awaitTermination()
    pts = stream.read_points()
    assert _rows(pts.select("pid")) == [(1,), (3,), (4,)]

    # restart with no new data: checkpoint makes it a no-op (exactly-once)
    stream.start(src).awaitTermination()
    pts = stream.read_points()
    assert _rows(pts.select("pid")) == [(1,), (3,), (4,)]

    # the maintained index reflects the mutated point set
    cells = stream.cells()
    root = cells.where(F.col("depth") == 0).collect()[0]
    assert root["count"] == 3


def _bucket_state(data_dir: str) -> dict[str, dict[str, float]]:
    """{partition dir: {file: mtime}} for every bucket partition on disk."""
    out = {}
    if not os.path.isdir(data_dir):
        return out
    for d in os.listdir(data_dir):
        p = os.path.join(data_dir, d)
        if d.startswith("_bucket=") and os.path.isdir(p):
            out[d] = {f: os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)}
    return out


def _dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def test_streaming_upserts_touch_only_mutated_buckets(spark, tmp_path):
    """Scale invariant (merge-on-read): a micro-batch appends ONLY delta
    files for its touched buckets — no base file is ever rewritten, and the
    far bucket's delta files keep byte-identical names+mtimes across a batch
    that doesn't mutate it."""
    from geospatial_cuda_spark.streaming.upserts import PointTableStream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    stream = PointTableStream(spark, state, max_depth=6, compact_threshold=10)

    # batch 0: two distant regions → two distinct depth-3 buckets
    _write_batch(
        src,
        "b0.json",
        [
            {"qtype": "i", "pid": 1, "x": 10.0, "y": 10.0},
            {"qtype": "i", "pid": 2, "x": 900000.0, "y": 900000.0},
        ],
    )
    stream.start(src).awaitTermination()
    delta_before = _bucket_state(stream.table.delta_dir)
    base_before = _bucket_state(stream.table.data_dir)
    assert len(delta_before) == 2
    v1 = stream.table.current()["version"]

    # batch 1: mutate ONLY the low-corner region
    _write_batch(
        src,
        "b1.json",
        [
            {"qtype": "i", "pid": 3, "x": 11.0, "y": 11.0},
            {"qtype": "d", "pid": 0, "x": 10.0, "y": 10.0},
        ],
    )
    stream.start(src).awaitTermination()
    delta_after = _bucket_state(stream.table.delta_dir)
    # base files untouched entirely (merge-on-read writes only deltas)
    assert _bucket_state(stream.table.data_dir) == base_before
    touched = [d for d in delta_before if delta_before[d] != delta_after.get(d)]
    untouched = [d for d in delta_before if delta_before[d] == delta_after.get(d)]
    assert len(touched) == 1 and len(untouched) == 1  # far bucket untouched
    assert stream.table.current()["version"] == v1 + 1
    assert _rows(stream.read_points().select("pid")) == [(2,), (3,)]


def test_streaming_mor_bytes_proportional_and_compaction(spark, tmp_path):
    """VERDICT r2 item 6: per-batch bytes written ∝ batch size, not bucket
    size — a 2-mutation batch against a 10k-row bucket writes a small delta,
    not a bucket rewrite. When the threshold is reached the bucket compacts
    (merged state becomes fresh base files, deltas cleared) and the visible
    state is preserved; vacuum then collects the superseded delta files."""
    from geospatial_cuda_spark.streaming.upserts import PointTableStream

    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    stream = PointTableStream(spark, state, max_depth=6, compact_threshold=3)

    n = 10_000
    # all inserts inside one depth-3 bucket (x, y < 100k < 125k cell extent)
    _write_batch(
        src,
        "b0.json",
        [
            {"qtype": "i", "pid": i, "x": float((i % 100) * 10 + 1), "y": float((i // 100) * 9 + 1)}
            for i in range(n)
        ],
    )
    stream.start(src).awaitTermination()
    bytes0 = _dir_bytes(stream.table.path)
    assert stream.read_points().count() == n

    # batch 1: two mutations → bytes written must be a small fraction of the
    # bucket's size (the copy-on-write path would rewrite all 10k rows)
    _write_batch(
        src,
        "b1.json",
        [
            {"qtype": "d", "pid": 0, "x": 1.0, "y": 1.0},
            {"qtype": "i", "pid": n + 1, "x": 55.5, "y": 66.5},
        ],
    )
    stream.start(src).awaitTermination()
    batch1_bytes = _dir_bytes(stream.table.path) - bytes0
    assert batch1_bytes * 10 < bytes0, (batch1_bytes, bytes0)
    assert stream.read_points().count() == n  # -1 deleted, +1 inserted
    assert len(stream.table.current()["deltas"]) == 1

    # batch 2: hits compact_threshold=3 → the bucket compacts in-publish
    _write_batch(
        src,
        "b2.json",
        [
            {"qtype": "d", "pid": 0, "x": 11.0, "y": 1.0},
            {"qtype": "i", "pid": n + 2, "x": 77.5, "y": 88.5},
        ],
    )
    stream.start(src).awaitTermination()
    m = stream.table.current()
    assert not any(m["deltas"].values())  # deltas cleared by compaction
    assert m["buckets"] and sum(m["buckets"].values()) == n
    pts = stream.read_points()
    assert pts.count() == n
    got = {r["pid"] for r in pts.where(F.col("pid") > n - 1).collect()}
    assert got == {n + 1, n + 2}
    assert pts.where((F.col("x") == 1.0) & (F.col("y") == 1.0)).count() == 0
    # superseded delta files are unreferenced → vacuum collects, state intact
    assert stream.table.vacuum() >= 3
    assert stream.read_points().count() == n


# -- ManifestStore seam (VERDICT r4 item 2) ---------------------------------


@pytest.mark.parametrize("kind", ["memory", "casfile"])
def test_manifest_store_interface_race_merge_and_conflict(spark, bucketed_df, tmp_path, kind):
    """The optimistic-concurrency protocol must be BACKEND-INDEPENDENT: the
    same disjoint-merge and same-bucket-conflict outcomes hold when the CAS
    runs through a conditional-PUT store — both the in-memory model and the
    DURABLE object-store-legal CasFileManifestStore (r5: write-temp payload
    + O_EXCL generation token, no os.link / atomic-rename assumptions)."""
    from geospatial_cuda_spark.sources.snapshots import (
        CasFileManifestStore,
        InMemoryManifestStore,
        SnapshotConflictError,
        SnapshotTable,
    )

    def make_store(tag):
        if kind == "memory":
            return InMemoryManifestStore()
        return CasFileManifestStore(str(tmp_path / f"stores/{tag}"))

    store = make_store("s0")
    path = str(tmp_path / "t")
    snap1 = SnapshotTable(path, store=store)
    snap2 = SnapshotTable(path, store=store)
    low = bucketed_df.where(F.col("bucket") < "4")
    high = bucketed_df.where(F.col("bucket") >= "4")

    # disjoint race: snap2 publishes between snap1's write and publish → merge
    orig_write = snap1._write_append
    fired = []

    def hooked(batch, bucket_col, target=None):
        orig_write(batch, bucket_col, target)
        if not fired:
            fired.append(1)
            snap2.commit(high, "bucket")

    snap1._write_append = hooked
    snap1.commit(low, "bucket")
    m = snap1.current()
    assert m["version"] == 2 and set(m["buckets"]) == {str(i) for i in range(7)}
    assert _rows(snap1.read(spark).select("pid", "bucket", "val")) == _rows(bucketed_df)

    # same-bucket race on a fresh table over the same store model → conflict
    store2 = make_store("s1")
    path2 = str(tmp_path / "t2")
    s1 = SnapshotTable(path2, store=store2)
    s2 = SnapshotTable(path2, store=store2)
    b2 = bucketed_df.where(F.col("bucket") == "2")
    orig2, fired2 = s1._write_append, []

    def hooked2(batch, bucket_col, target=None):
        orig2(batch, bucket_col, target)
        if not fired2:
            fired2.append(1)
            s2.commit(b2, "bucket")

    s1._write_append = hooked2
    with pytest.raises(SnapshotConflictError):
        s1.commit(b2, "bucket")
    assert s1.current()["version"] == 1  # winner intact
    assert _rows(s1.read(spark).select("pid", "bucket", "val")) == _rows(b2)


def test_manifest_store_rollforward_after_hint_crash(spark, bucketed_df, tmp_path):
    """A publisher crash BETWEEN the conditional PUT and the pointer repoint
    (the object-store analogue of the file store's CURRENT race) leaves a published
    manifest and a stale hint; readers roll forward to the chain tip and the
    next commit builds on it."""
    from geospatial_cuda_spark.sources.snapshots import (
        InMemoryManifestStore,
        SnapshotTable,
    )

    store = InMemoryManifestStore()
    orig = store.set_latest_hint

    def crash(version):
        store.set_latest_hint = orig  # crash once
        raise RuntimeError("simulated crash after publish, before the hint")

    store.set_latest_hint = crash
    path = str(tmp_path / "t")
    snap = SnapshotTable(path, store=store)
    low = bucketed_df.where(F.col("bucket") < "4")
    with pytest.raises(RuntimeError, match="simulated crash"):
        snap.commit(low, "bucket")
    assert store.hint == 0 and 1 in store.versions  # published, hint stale
    reader = SnapshotTable(path, store=store)
    assert reader.current()["version"] == 1  # roll-forward past stale hint
    res = reader.commit(bucketed_df, "bucket")
    assert res["snapshot"]["version"] == 2
    assert _rows(reader.read(spark).select("pid", "bucket", "val")) == _rows(bucketed_df)


def _crash_case(spark, bucketed_df, snap, op):
    """Set up ``snap`` for ``op`` and return (run the op, rows before it,
    rows after it)."""
    cols = ("pid", "bucket", "val")
    low = bucketed_df.where(F.col("bucket") < "4")
    snap.commit(low, "bucket")  # v1
    if op == "commit":
        return (lambda: snap.commit(bucketed_df, "bucket"),
                _rows(low.select(*cols)), _rows(bucketed_df.select(*cols)))
    if op == "append_deltas":
        gone = (F.col("bucket") == "1") & (F.col("pid") % 5 == 0)
        batch = low.where(gone).withColumn("_op", F.lit("d"))
        return (lambda: snap.append_deltas(
                    batch, "bucket", ["1"], key_cols=["pid"], compact_threshold=1),
                _rows(low.select(*cols)), _rows(low.where(~gone).select(*cols)))
    snap.commit(bucketed_df, "bucket")  # v2
    return (lambda: snap.rollback(1),
            _rows(bucketed_df.select(*cols)), _rows(low.select(*cols)))


_CRASH_CASES = [
    (op, point)
    for op in ("commit", "append_deltas", "rollback")
    for point in ("after_move", "after_publish")
    if (op, point) != ("rollback", "after_move")  # rollback writes no data files
]


@pytest.mark.parametrize(
    "store,op,point",
    [pytest.param("memory", op, pt, id=f"{op}-{pt}") for op, pt in _CRASH_CASES]
    + [pytest.param("file", op, pt, id=f"{op}-{pt}-file") for op, pt in _CRASH_CASES],
)
def test_crash_point_matrix(spark, bucketed_df, tmp_path, store, op, point):
    """Every write operation survives a crash at each commit phase, on the
    in-memory conditional-PUT model and on the default file store. After
    the staged files are moved but before publish, a fresh table still reads
    the old version and ``vacuum`` collects the moved files. After publish
    but before the hint repoint, a fresh table rolls forward to the child."""
    from geospatial_cuda_spark.sources.snapshots import InMemoryManifestStore

    path = str(tmp_path / "t")
    mem = InMemoryManifestStore() if store == "memory" else None
    snap = SnapshotTable(path, store=mem)
    run, before, after = _crash_case(spark, bucketed_df, snap, op)
    old = snap.current()["version"]
    if point == "after_move":
        orig = snap._write_append_tracked

        def crash(*a, **k):
            orig(*a, **k)
            raise RuntimeError("simulated crash after the staged move")

        snap._write_append_tracked = crash
        with pytest.raises(RuntimeError, match="simulated crash"):
            run()
        fresh = SnapshotTable(path, store=mem)
        assert fresh.current()["version"] == old
        assert _rows(fresh.read(spark).select("pid", "bucket", "val")) == before
        assert fresh.vacuum() >= 1
        assert fresh.vacuum() == 0
    else:
        orig = snap.store.set_latest_hint

        def crash(version):
            snap.store.set_latest_hint = orig  # crash once
            raise RuntimeError("simulated crash after publish, before the hint")

        snap.store.set_latest_hint = crash
        with pytest.raises(RuntimeError, match="simulated crash"):
            run()
        fresh = SnapshotTable(path, store=mem)
        assert fresh.store.latest_hint() == old
        assert fresh.current()["version"] == old + 1
        assert _rows(fresh.read(spark).select("pid", "bucket", "val")) == after


def test_commit_same_bucket_racer_files_never_claimed(spark, bucketed_df, tmp_path):
    """ADVICE r3: unpublished files another writer drops into a bucket
    directory during this writer's commit window must NOT be referenced by
    this writer's manifest (the old listing-diff attribution resurrected
    them; the staged move tracks exactly this job's files)."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(str(tmp_path / "t"))
    b2 = bucketed_df.where(F.col("bucket") == "2")
    residue = b2.where(F.col("pid") == 2)  # someone else's aborted write

    orig_write, fired = snap._write_append, []

    def hooked(batch, bucket_col, target=None):
        orig_write(batch, bucket_col, target)
        if not fired:
            fired.append(1)
            # racer's task-side files land in the final bucket dir directly,
            # inside this writer's commit window, unpublished
            residue.write.partitionBy("bucket").mode("append").parquet(snap.data_dir)

    snap._write_append = hooked
    snap.commit(b2, "bucket")
    # exactly this job's rows visible — the residue row is not double-counted
    assert _rows(snap.read(spark).select("pid", "bucket", "val")) == _rows(b2)
    assert snap.current()["buckets"]["2"] == b2.count()
    assert snap.vacuum() == 1  # the racer's file is orphaned, not claimed


def test_vacuum_stage_grace_spares_live_writer(spark, bucketed_df, tmp_path):
    """ADVICE r3: vacuum must not delete a live concurrent writer's staging
    dir — stage residue is collected only past the mtime grace window."""
    snap = SnapshotTable(str(tmp_path / "t"))
    snap.commit(bucketed_df, "bucket")
    live = os.path.join(snap.path, ".stage-livewriter")
    os.makedirs(live)
    with open(os.path.join(live, "part-0.parquet"), "w") as f:
        f.write("in-flight")
    snap.vacuum()  # default 1h grace: the fresh stage dir survives
    assert os.path.isdir(live)
    os.utime(live, (1, 1))  # stale top-level dir alone is NOT enough:
    snap.vacuum()           # the fresh file inside marks the stage live
    assert os.path.isdir(live)
    os.utime(os.path.join(live, "part-0.parquet"), (1, 1))  # whole subtree stale
    snap.vacuum()
    assert not os.path.exists(live)


@pytest.mark.parametrize("store", ["memory", "file"])
def test_vacuum_crash_midway_recovers(spark, bucketed_df, tmp_path, monkeypatch, store):
    """vacuum deletes only files CURRENT does not reference, so a crash
    after its first deletion loses nothing: a fresh table reads the same
    rows at the same version, the next vacuum removes the rest, and the one
    after that finds nothing."""
    from geospatial_cuda_spark.sources.snapshots import InMemoryManifestStore

    path = str(tmp_path / "t")
    mem = InMemoryManifestStore() if store == "memory" else None
    snap = SnapshotTable(path, store=mem)
    snap.commit(bucketed_df, "bucket")
    cols = ("pid", "bucket", "val")
    expected = _rows(_compact_away_odd_pids_of_bucket_3(snap, bucketed_df).select(*cols))
    version = snap.current()["version"]
    orig, removed = os.remove, []

    def crash(p):
        if removed:
            raise RuntimeError("simulated crash inside vacuum")
        orig(p)
        removed.append(p)

    monkeypatch.setattr(os, "remove", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        snap.vacuum()
    monkeypatch.undo()
    assert len(removed) == 1
    fresh = SnapshotTable(path, store=mem)
    assert fresh.current()["version"] == version
    assert _rows(fresh.read(spark).select(*cols)) == expected
    assert fresh.vacuum() >= 1
    assert fresh.vacuum() == 0
    assert _rows(fresh.read(spark).select(*cols)) == expected


def test_casfile_store_cas_rollforward_and_torn_token(spark, bucketed_df, tmp_path):
    """CasFileManifestStore unit semantics (VERDICT r4 item 7): the O_EXCL
    generation-token CAS admits exactly one writer per version; a crash
    between publish and hint repoint heals by roll-forward; a TORN token
    (created, name never written — the emulation's documented µs window)
    reads as absent, never as a partial manifest, while a token naming a
    complete but missing payload is corruption and raises at once; a
    garbled CURRENT hint costs probes, not failures."""
    from geospatial_cuda_spark.sources.snapshots import (
        CasFileManifestStore,
        SnapshotTable,
    )

    sdir = str(tmp_path / "m")
    store = CasFileManifestStore(sdir, torn_token_wait_sec=0.1)
    # direct CAS: second publisher of the same version must lose
    assert store.try_publish(1, {"version": 1, "snapshot_id": "a"})
    assert not store.try_publish(1, {"version": 1, "snapshot_id": "b"})
    assert store.read_version(1)["snapshot_id"] == "a"
    # losing payload bodies are cleaned up; no reader-visible residue
    import os

    names = set(os.listdir(sdir))
    assert sum(n.startswith("payload-") for n in names) == 1

    # crash between publish and hint: hint stale, reader rolls forward
    assert store.try_publish(2, {"version": 2, "snapshot_id": "c"})  # no hint set
    store.set_latest_hint(1)
    # a VALID hint must round-trip (a hint that never parses silently turns
    # every read into a full O(versions) roll-forward from v1)
    assert store.latest_hint() == 1
    snap = SnapshotTable(str(tmp_path / "t"), store=store)
    assert snap.current()["version"] == 2

    # torn token: version 3 reserved but name never written
    fd = os.open(os.path.join(sdir, "v3.token"), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    assert store.read_version(3) is None  # absent after the poll window
    assert snap.current()["version"] == 2  # chain stops before the torn slot

    # PARTIAL token (ADVICE r5): name half-written mid-crash — must poll
    # then read as absent exactly like the empty token, not raise
    # FileNotFoundError out of read_version/current
    with open(os.path.join(sdir, "v3.token"), "w") as f:
        f.write("payload-deadbeef")  # plausible but nonexistent payload name
    assert store.read_version(3) is None
    assert snap.current()["version"] == 2

    # COMPLETE payload name whose file is missing: payloads are fsync'd
    # before their token exists, so this is corruption — raise at once
    import time

    from geospatial_cuda_spark.sources.snapshots import SnapshotCorruptError

    with open(os.path.join(sdir, "v3.token"), "w") as f:
        f.write(f"payload-{'0' * 32}.json")
    t0 = time.monotonic()
    with pytest.raises(SnapshotCorruptError, match="payload"):
        store.read_version(3)
    assert time.monotonic() - t0 < store.torn_token_wait_sec
    with pytest.raises(SnapshotCorruptError):
        snap.current()
    os.remove(os.path.join(sdir, "v3.token"))

    # garbled hint tolerated (advisory contract)
    with open(os.path.join(sdir, "CURRENT"), "w") as f:
        f.write("garbage")
    assert store.latest_hint() == 0
    assert snap.current()["version"] == 2  # full roll-forward from 1


def test_casfile_store_end_to_end_commit_delta_read(spark, bucketed_df, tmp_path):
    """Full SnapshotTable protocol (commit → MOR delta → merged read) over
    the object-store-legal backend, which ``SnapshotTable(path)`` builds by
    default — the same flow q_snapshot_lineage gates."""
    from geospatial_cuda_spark.sources.snapshots import (
        CasFileManifestStore,
        SnapshotTable,
    )

    path = str(tmp_path / "t")
    snap = SnapshotTable(path)
    assert isinstance(snap.store, CasFileManifestStore)
    snap.commit(bucketed_df, "bucket")
    delta = (
        bucketed_df.where(F.col("pid") % 3 == 0)
        .withColumn("_op", F.lit("d"))
    )
    snap.append_deltas(delta, "bucket", None, key_cols=["pid"])
    got = _rows(snap.read(spark).select("pid", "bucket", "val"))
    want = _rows(
        bucketed_df.where(F.col("pid") % 3 != 0).select("pid", "bucket", "val")
    )
    assert got == want


def test_opening_missing_table_creates_nothing(spark, bucketed_df, tmp_path):
    """Opening, reading and vacuuming a path that holds no table leave no
    directory behind; the first commit creates the commit log and
    publishes v1."""
    path = str(tmp_path / "missing" / "t")
    snap = SnapshotTable(path)
    assert snap.current() is None
    assert snap.vacuum() == 0
    assert not os.path.exists(tmp_path / "missing")
    snap.commit(bucketed_df, "bucket")
    assert snap.current()["version"] == 1
    assert SnapshotTable(path).current()["version"] == 1


def _batch(spark, lo, hi):
    """Rows with pid in [lo, hi) whose bucket values are unique to the range
    (commit appends whole NEW buckets; reusing a bucket would conflict)."""
    return spark.range(lo, hi).select(
        F.col("id").alias("pid"),
        F.concat(F.lit("b"), F.col("id") % 100).alias("bucket"),
        (F.col("id") * 31 % 1000).alias("val"),
    )


def test_read_changes_append_only_chain(spark, tmp_path):
    """read_changes(a, b) returns EXACTLY the rows added between the two
    snapshots, and read(a) ∪ changes(a, b) == read(b) — the incremental
    ingestion contract over a chain of pure appends."""
    from geospatial_cuda_spark.sources.snapshots import SnapshotTable

    snap = SnapshotTable(str(tmp_path / "t"))
    b1 = _batch(spark, 0, 200)  # buckets b0..b99 (v1)
    b2 = _batch(spark, 10_000, 10_150).withColumn(
        "bucket", F.concat(F.lit("c"), F.col("pid") % 50)
    )  # c0..c49 (v2)
    b3 = _batch(spark, 20_000, 20_080).withColumn(
        "bucket", F.concat(F.lit("d"), F.col("pid") % 20)
    )  # d0..d19 (v3)
    snap.commit(b1, "bucket")
    snap.commit(b2, "bucket")
    snap.commit(b3, "bucket")

    cols = ["pid", "bucket", "val"]
    assert _rows(snap.read_changes(spark, 1).select(*cols)) == _rows(
        b2.select(*cols).unionByName(b3.select(*cols))
    )
    assert _rows(snap.read_changes(spark, 2, 3).select(*cols)) == _rows(
        b3.select(*cols)
    )
    # a == b: empty increment, schema preserved
    none = snap.read_changes(spark, 3, 3)
    assert none.count() == 0
    assert [f.name for f in none.schema.fields] == [
        f.name for f in snap.read(spark).schema.fields
    ]
    # union invariant
    assert _rows(
        snap.read(spark, version=1)
        .select(*cols)
        .unionByName(snap.read_changes(spark, 1, 3).select(*cols))
    ) == _rows(snap.read(spark, version=3).select(*cols))


def test_read_changes_append_after_compaction_emptied_deltas(spark, tmp_path):
    """A compaction that clears every pending delta leaves an empty delta
    map; a plain commit on top of it is still a pure append, so the
    incremental read across that step must return exactly its rows."""
    snap = SnapshotTable(str(tmp_path / "t"))
    base = spark.range(0, 40).select(
        F.col("id").alias("pid"), F.lit("a").alias("bucket"), F.col("id").alias("val")
    )
    snap.commit(base, "bucket")  # v1
    gone = base.where(F.col("pid") < 5).withColumn("_op", F.lit("d"))
    res = snap.append_deltas(gone, "bucket", ["a"], key_cols=["pid"], compact_threshold=1)
    assert res["compacted_buckets"] == ["a"]  # v2: deltas emptied
    new = spark.range(100, 110).select(
        F.col("id").alias("pid"), F.lit("b").alias("bucket"), F.col("id").alias("val")
    )
    snap.commit(new, "bucket")  # v3
    cols = ("pid", "bucket", "val")
    assert _rows(snap.read_changes(spark, 2, 3).select(*cols)) == _rows(new.select(*cols))


def test_read_changes_refuses_non_append_steps(spark, tmp_path):
    """Any step that replaced files or touched MOR delta state inside the
    range raises SnapshotIncrementalError (the Iceberg refuse-don't-guess
    rule); ranges outside the chain raise cleanly."""
    import pytest

    from geospatial_cuda_spark.sources.snapshots import (
        SnapshotIncrementalError,
        SnapshotTable,
    )

    snap = SnapshotTable(str(tmp_path / "t"))
    b1 = _batch(spark, 0, 200)
    snap.commit(b1, "bucket")  # v1
    snap.append_deltas(
        b1.where(F.col("pid") == 3).withColumn("_op", F.lit("d")),
        "bucket", ["b3"], key_cols=["pid"], compact_threshold=1,
    )  # v2: file replacement (compaction)
    snap.commit(
        _batch(spark, 10_000, 10_050).withColumn(
            "bucket", F.concat(F.lit("c"), F.col("pid") % 10)
        ),
        "bucket",
    )  # v3: clean append on top
    with pytest.raises(SnapshotIncrementalError, match="b3"):
        snap.read_changes(spark, 1)  # compaction inside the range
    # the appended-only suffix is still readable incrementally
    assert snap.read_changes(spark, 2, 3).count() == 50

    delta = (
        b1.where(F.col("pid") == 7)
        .withColumn("_op", F.lit("d"))
    )
    snap.append_deltas(delta, "bucket", None, key_cols=["pid"])  # v4
    with pytest.raises(SnapshotIncrementalError, match="delta"):
        snap.read_changes(spark, 3)
    with pytest.raises(ValueError, match="from_version"):
        snap.read_changes(spark, 0)
    with pytest.raises(ValueError, match="from_version"):
        snap.read_changes(spark, 9, 4)


def _tree_digest(root: str) -> dict[str, str]:
    import hashlib

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_bench_streaming_tool_smoke():
    """``tools/bench_streaming.py`` runs end to end at a small size: exit 0,
    ONE JSON line, at least one compaction, the merge-on-read end state
    equal to the eager insert/delete fold, and the recorded ``BENCH/``
    results untouched. It stops its own Spark session, so it runs in a
    subprocess."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    bench = os.path.join(repo, "BENCH")
    before = _tree_digest(bench)
    proc = subprocess.run(
        [sys.executable, os.path.join("tools", "bench_streaming.py"),
         "--rows", "2000", "--batches", "3", "--batch-size", "20",
         "--compact-threshold", "2"],
        cwd=repo, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    assert len(lines) == 1, proc.stdout
    out = json.loads(lines[0])
    assert out["mor"]["compactions"] >= 1
    assert out["end_state_equal"] is True
    assert out["mor"]["rows_final"] == out["eager_fold"]["rows_final"]
    assert out["mor"]["state_hash"] == out["eager_fold"]["state_hash"]
    assert _tree_digest(bench) == before
