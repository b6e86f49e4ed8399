"""`snapshot_changes` — a Structured Streaming SOURCE over snapshot tables.

The sink direction already exists (`streaming/upserts.py` writes streams
INTO a `SnapshotTable`); this is the read direction: a stream that tails a
growing snapshot table version-by-version, the Iceberg/Delta
"streaming read of a table" model re-expressed through PySpark 4's Python
DataSource API (public `pyspark.sql.datasource`, SPARK-44076).

Execution model — scale-correct by construction:

- OFFSETS are manifest versions (`{"version": N}`): tiny JSON, monotone,
  replay-exact. The driver-side reader only reads MANIFESTS (the same
  O(increment) chain walk as `SnapshotTable.read_changes` — no data I/O on
  the driver, ever).
- Each microbatch's work is one `InputPartition` PER ADDED FILE, so the
  read parallelism equals the increment's file count and data bytes are
  read on EXECUTORS, as Arrow record batches straight from parquet.
- Initial load (`starting_version=0`, the default) is "every file of the
  current version, then tail"; `starting_version=latest` tails only new
  commits; an integer starts after that committed version. A table with
  pending merge-on-read deltas refuses the initial load (the delta fold is
  a join, not a file list — compact first), exactly like a mid-range
  delta batch, compaction or rollback raises: refuse, never approximate
  (Iceberg incremental-scan contract).
- Schema is pinned at stream start from the manifest (evolution-aware:
  files written before a later column addition null-fill it; the bucket
  partition column is injected from the directory name). Columns added to
  the table AFTER stream start are not surfaced until a stream restart —
  Spark streaming schemas are fixed per run.

Reference scope: the reference engine has no streaming surface at all
(`cuda/inference.cu:24-49` rebuilds from a text file per run); this is the
consumption half of the snapshot sink contract SURVEY §2.9 promises.
"""

from __future__ import annotations

import json
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from ..sources.snapshots import SnapshotTable


class _FilePartition(InputPartition):
    """One added data file: everything an executor needs, picklable."""

    def __init__(self, path: str, bucket_value: str | None):
        self.path = path
        self.bucket_value = bucket_value


def _arrow_fields(schema: StructType) -> list[tuple[str, object]]:
    """[(name, arrow_type)] for a Spark schema — computed ONCE per file read
    (to_arrow_type is a per-field conversion; re-running it per record batch
    would put schema work on the executor-side hot path)."""
    from pyspark.sql.pandas.types import to_arrow_type

    return [(f.name, to_arrow_type(f.dataType)) for f in schema.fields]


def _reconcile_batch(batch, fields: list, bucket_col: str, bucket_value):
    """Project an Arrow batch onto the STREAM schema (``fields`` from
    :func:`_arrow_fields`): inject the partition column as a constant,
    null-fill columns the file predates, cast to the schema's Arrow types
    (evolution forbids type changes, so casts are lossless representation
    alignment, e.g. int32 footer vs long schema)."""
    import pyarrow as pa

    cols, n = [], batch.num_rows
    names = set(batch.schema.names)
    for name, at in fields:
        if name == bucket_col and name not in names:
            # bucket_value is always a STRING (manifest JSON key / directory
            # name); for a non-string bucket column build the scalar by
            # casting through Arrow — the streaming twin of the batch
            # reader's typed partition column — instead of pa.scalar(str,
            # type=int64), which raises ArrowInvalid (ADVICE r5)
            sc = pa.array([bucket_value], type=pa.string()).cast(at)[0]
            cols.append(pa.repeat(sc, n))
        elif name in names:
            cols.append(batch.column(name).cast(at))
        else:
            cols.append(pa.nulls(n, type=at))
    return pa.RecordBatch.from_arrays(cols, names=[name for name, _ in fields])


class _SnapshotChangesStreamReader(DataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options.get("path")
        if not self._path:
            raise ValueError("snapshot_changes requires .option('path', <table root>)")
        start = str(options.get("starting_version", "0")).lower()
        self._table = SnapshotTable(self._path)
        if start == "latest":
            m = self._table.current()
            self._start = m["version"] if m else 0
        else:
            self._start = int(start)
        # manifest facts partitions() needs; bucket typing rides the schema
        m = self._table.current()
        self._bucket_col = m["bucket_col"] if m else None

    def initialOffset(self) -> dict:
        return {"version": self._start}

    def latestOffset(self) -> dict:
        m = self._table.current()
        return {"version": m["version"] if m else self._start}

    def partitions(self, start: dict, end: dict):
        from_v, to_v = int(start["version"]), int(end["version"])
        if to_v <= from_v:
            return []
        _, added = self._table.added_files(from_v, to_v)
        return [_FilePartition(p, b) for b, p in added]

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow.parquet as pq

        try:
            pf = pq.ParquetFile(partition.path)
        except FileNotFoundError as e:
            # the manifest chain was valid when this batch was planned, so a
            # missing file means the table was rewritten+vacuumed (or
            # tampered with) between planning and read — tell the operator
            # what happened instead of surfacing a bare executor IOError
            raise FileNotFoundError(
                f"{partition.path}: data file vanished after the microbatch "
                "was planned — history was vacuumed past this stream's "
                "offset (or the file was removed externally). Restart the "
                "stream with a fresh checkpoint to re-plan from a live "
                "version."
            ) from e
        fields = _arrow_fields(self._schema)
        file_cols = [n for n, _ in fields if n in set(pf.schema_arrow.names)]
        for batch in pf.iter_batches(columns=file_cols or None):
            yield _reconcile_batch(
                batch, fields, self._bucket_col, partition.bucket_value
            )

    def commit(self, end: dict) -> None:
        pass


class SnapshotChangesDataSource(DataSource):
    """``spark.readStream.format("snapshot_changes").option("path", root)``.

    Register once per session with :func:`register_snapshot_changes`.
    """

    @classmethod
    def name(cls) -> str:
        return "snapshot_changes"

    def schema(self):
        path = self.options.get("path")
        if not path:
            raise ValueError("snapshot_changes requires .option('path', <table root>)")
        return SnapshotTable._manifest_schema(SnapshotTable(path)._manifest())

    def streamReader(self, schema: StructType):
        return _SnapshotChangesStreamReader(schema, dict(self.options))


def register_snapshot_changes(spark) -> None:
    spark.dataSource.register(SnapshotChangesDataSource)
