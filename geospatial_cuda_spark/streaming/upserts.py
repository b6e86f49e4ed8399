"""Structured-Streaming surface for the mutation stream (M1/M2).

The reference consumes a batched ``Query`` stream sequentially against a
maintained index (cuda/inference.cu:109-170). The Spark rendering: a file /
rate source of mutation rows ``(qtype 'i'|'d', x, y, payload...)`` consumed
with ``foreachBatch``; each micro-batch appends its insert/delete rows as
one delta batch for ONLY the spatial buckets its mutation keys touch —
I/O per batch is O(batch), never O(table).

Layout: the maintained point set lives in a ``SnapshotTable`` partitioned by
the depth-``bucket_depth`` quadkey cell of each point. A mutation's bucket is
a pure function of (x, y), so insert-if-missing / delete-by-value are
complete WITHIN the touched buckets. The write path is MERGE-ON-READ: each
micro-batch appends ONE delta batch (insert rows + delete keys) for exactly
the touched buckets — per-batch bytes written ∝ BATCH size, never bucket
size (a batch touching one hot million-row bucket writes a few KB, not the
bucket). Readers fold pending delta batches over the base files in sequence
order; when a bucket accumulates ``compact_threshold`` batches the table
compacts it (rewrites the merged state as fresh base files) in the same
publish, bounding read amplification. Untouched buckets' files are never
read, rewritten, or even re-listed by readers (file-level manifests).

Exactly-once: the checkpointed source gives at-least-once batch delivery;
re-applying a batch is idempotent (insert-if-missing + delete-by-value), and
the manifest publish is an atomic CAS, so a crash anywhere replays to the
same state. Watermarks/session windows have no reference counterpart and are
out of scope here (SURVEY §2.9) — see streaming/windows.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import quadtree as QT
from ..sources.snapshots import SnapshotTable

MUTATION_SCHEMA = "qtype string, pid long, x float, y float"
POINTS_SCHEMA = "pid long, x float, y float"
BUCKET_COL = "_bucket"


class PointTableStream:
    """Maintains a bucketed points snapshot table under ``state_dir``, fed by
    a stream of mutation rows; cell-count state re-derives from it on read."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        max_depth: int = 18,
        bucket_depth: int = 3,
        compact_threshold: int = 8,
    ):
        self.spark = spark
        self.state_dir = state_dir
        self.points_path = os.path.join(state_dir, "points")
        self.table = SnapshotTable(self.points_path)
        self.checkpoint = os.path.join(state_dir, "_checkpoint")
        self.max_depth = max_depth
        self.bucket_depth = bucket_depth
        self.compact_threshold = compact_threshold

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return QT.with_cell_id(df, self.bucket_depth, out=BUCKET_COL)

    def read_points(self) -> DataFrame:
        """Committed point set (manifest-pruned)."""
        try:
            return self.table.read(self.spark).select("pid", "x", "y")
        except FileNotFoundError:
            return self.spark.createDataFrame([], POINTS_SCHEMA)

    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Merge-on-read: the batch itself IS the write — insert rows and
        delete keys land as one delta batch for the touched buckets (bytes
        ∝ batch size). The insert-if-missing / delete-by-value semantics of
        operators/mutations.{insert,delete}_points are applied at read time
        by SnapshotTable's sequence-ordered fold (and baked in at
        compaction), so the visible state matches the eager fold
        ``delete_points(insert_points(points, inserts), deletes)`` per batch
        row-for-row. The touched-bucket set is derived task-side from
        the staged write's own per-bucket output (``buckets=None``) — no
        ``distinct().collect()`` driver round-trip per micro-batch, and the
        batch plan is computed exactly once (no persist needed)."""
        delta = self._with_bucket(batch).select(
            "pid", "x", "y", BUCKET_COL, F.col("qtype").alias("_op")
        )
        self.table.append_deltas(
            delta,
            BUCKET_COL,
            None,
            key_cols=["x", "y"],
            compact_threshold=self.compact_threshold,
        )

    def start(self, source_dir: str, available_now: bool = True):
        stream = (
            self.spark.readStream.schema(MUTATION_SCHEMA)
            .json(source_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def cells(self) -> DataFrame:
        """Fresh cells relation over the committed points (lazy; the build
        persists nothing, so a stream polling cells() holds no storage)."""
        return QT.build_cells(self.read_points(), max_depth=self.max_depth)
