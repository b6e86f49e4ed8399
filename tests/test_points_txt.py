"""S1 parity: the reference's native 'x y' text-file point source.

The CUDA engine reads whitespace-separated float pairs and skips malformed
lines (inference.cu:31-44). These tests pin: same accepted/skipped set,
float32 parsing, file-order pid assignment, and that the ingested points
drive the quadtree identically to the in-memory fixture path.
"""

from __future__ import annotations

import numpy as np

from geospatial_cuda_spark.functions import cells as C
from geospatial_cuda_spark.sources.points_txt import read_points_txt


def test_reference_format_parse_and_skip(spark, tmp_path):
    p = tmp_path / "points.txt"
    p.write_text(
        "10.5 20.25\n"
        "   7   9  \n"          # leading/extra whitespace — reference's iss >> accepts
        "bogus line\n"           # malformed: skipped with a warning in the reference
        "5\n"                    # one field: skipped
        "1e3 250000\n"           # scientific notation parses as float
        "3.25 4.75 extra\n"      # trailing junk after two floats: reference accepts
        "\n"                     # blank: skipped
    )
    got = read_points_txt(spark, str(p)).collect()
    assert [(r["pid"], r["x"], r["y"]) for r in got] == [
        (0, 10.5, 20.25),
        (1, 7.0, 9.0),
        (2, 1000.0, 250000.0),
        (3, 3.25, 4.75),
    ]
    assert dict(read_points_txt(spark, str(p)).dtypes) == {
        "pid": "bigint", "x": "float", "y": "float"
    }


def test_txt_points_drive_engine_identically(spark, tmp_path, small_points):
    """Round-trip the fixture points through the reference text format: the
    ingested relation must produce the identical cell encoding (float32
    parse == float32 fixture values)."""
    x, y = small_points
    p = tmp_path / "pts.txt"
    with open(p, "w") as f:
        for xi, yi in zip(x, y):
            f.write(f"{float(xi)!r} {float(yi)!r}\n")
    df = read_points_txt(spark, str(p))
    rows = df.orderBy("pid").collect()
    gx = np.array([r["x"] for r in rows], dtype=np.float32)
    gy = np.array([r["y"] for r in rows], dtype=np.float32)
    assert np.array_equal(gx, x) and np.array_equal(gy, y)
    assert np.array_equal(
        C.encode_cell_ids(gx, gy, 8), C.encode_cell_ids(x, y, 8)
    )


def test_multi_file_pid_order_per_file_by_name(spark, tmp_path):
    """ADVICE r3: split packing is size-sorted, so partition index alone is
    not concatenated line order across files. The pid contract for a
    directory/glob is: files in NAME order, lines in offset order within
    each file — deterministic regardless of how splits were packed (the
    files here have different sizes, so size-descending packing would
    interleave them without the (file, order) ranking key)."""
    d = tmp_path / "pts"
    d.mkdir()
    # name order != size order on purpose: a.txt is the SMALLEST file
    (d / "a.txt").write_text("1 1\n")
    (d / "b.txt").write_text("".join(f"{100 + i} 2\n" for i in range(50)))
    (d / "c.txt").write_text("".join(f"{200 + i} 3\n" for i in range(10)))
    rows = read_points_txt(spark, str(d)).orderBy("pid").collect()
    xs = [r["x"] for r in rows]
    assert xs == [1.0] + [100.0 + i for i in range(50)] + [200.0 + i for i in range(10)]
    assert [r["pid"] for r in rows] == list(range(61))


def test_value_only_mode(spark, tmp_path):
    p = tmp_path / "v.txt"
    p.write_text("1 2\n3 4\n")
    df = read_points_txt(spark, str(p), with_pid=False)
    assert df.columns == ["x", "y"]
    assert sorted(tuple(r) for r in df.collect()) == [(1.0, 2.0), (3.0, 4.0)]


def test_reference_inference_cli_replay(spark, tmp_path):
    """End-to-end twin of the reference binary's run (inference.cu:109-170):
    text-file ingest → grid build + validation → the exact hardcoded s/i/d
    script, with insert-if-missing / delete-if-present decisions and
    incremental cell refresh between queries."""
    import sys

    sys.path.insert(0, "/root/repo/jobs")
    from run_inference import REFERENCE_SCRIPT, replay

    p = tmp_path / "points.txt"
    with open(p, "w") as f:
        f.write("637093.0 90101.0\n")   # the script's first search target
        for i in range(50):
            f.write(f"{1000.0 + i * 7919.0} {2000.0 + i * 6101.0}\n")
    pts = read_points_txt(spark, str(p), with_pid=False)
    log = []
    out = replay(spark, pts, REFERENCE_SCRIPT, 8, (0.0, 0.0, 1e6, 1e6), log=log.append)
    types = [t for t, _, _ in out]
    founds = [f for _, _, f in out]
    quads = [q for _, q, _ in out]
    assert types == ["s", "i", "s", "s", "d", "s"]
    # search hit, insert-missing, search now-found, miss, delete-present,
    # search gone — the reference's decision sequence
    assert founds == [True, False, True, False, True, False]
    assert all(q >= 0 for q in quads)
    assert "Grid Verification Success!" in log
    assert "Point not found in the grid." in log[-1]


def test_run_corpus_cli_commits_and_resumes(tmp_path):
    """The curation spark-submit job: end-to-end run commits a bucketed
    snapshot with lineage; an identical re-run is a resume no-op (idempotent
    commit). Subprocess-isolated because the CLI owns its SparkSession."""
    import json
    import subprocess
    import sys

    out = tmp_path / "corpus"
    cmd = [
        sys.executable, "/root/repo/jobs/run_corpus.py",
        "--docs", "/root/testdata/sf0.001/documents.parquet",
        "--out", str(out), "--buckets", "8",
    ]
    r1 = json.loads(
        subprocess.run(cmd, capture_output=True, text=True, check=True)
        .stdout.strip().splitlines()[-1]
    )
    assert r1["docs_kept"] > 0 and r1["written_buckets"] > 0
    assert not r1["resumed_noop"]
    r2 = json.loads(
        subprocess.run(cmd, capture_output=True, text=True, check=True)
        .stdout.strip().splitlines()[-1]
    )
    assert r2["resumed_noop"] and r2["docs_kept"] == r1["docs_kept"]

    # the job commits through the one file store: token-based manifests,
    # which every reader that opens the table by path sees
    import os

    from geospatial_cuda_spark.sources.snapshots import SnapshotTable
    from geospatial_cuda_spark.streaming.source import _SnapshotChangesStreamReader

    names = os.listdir(out / "_manifest")
    assert "v1.token" in names
    assert not any(n.startswith("v") and n.endswith(".json") for n in names)
    m = SnapshotTable(str(out)).current()
    assert m["version"] == 1
    assert sum(m["buckets"].values()) == r1["docs_kept"]
    reader = _SnapshotChangesStreamReader(None, {"path": str(out)})
    assert reader.latestOffset() == {"version": 1}


def test_run_pipeline_cli_commits_and_resumes(tmp_path):
    """The flagship spark-submit job, run as shipped: the package zip built
    by tools/build_pyfiles.py on --py-files, a synthetic input, one commit;
    an identical re-run into the same --out is a resume no-op."""
    import importlib.util
    import json
    import os
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "build_pyfiles", os.path.join(repo, "tools", "build_pyfiles.py")
    )
    build_pyfiles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build_pyfiles)
    zip_path = build_pyfiles.build(str(tmp_path / "geospatial_cuda_spark.zip"))

    cmd = [
        "spark-submit", "--master", "local[2]", "--py-files", zip_path,
        "--conf", "spark.ui.enabled=false",
        os.path.join(repo, "jobs", "run_pipeline.py"),
        "--synth", "500", "--out", str(tmp_path / "tiles"),
    ]

    def run() -> dict:
        proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True,
                              check=True, timeout=600)
        return json.loads(proc.stdout.strip().splitlines()[-1])

    r1 = run()
    assert r1["n_images"] == 500 and r1["n_located"] > 0
    assert r1["snapshot"]["rows_written"] >= 500 and not r1["resumed_noop"]
    r2 = run()
    assert r2["resumed_noop"] and r2["n_images"] == 500
