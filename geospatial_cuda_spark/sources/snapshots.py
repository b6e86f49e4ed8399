"""Iceberg-style snapshot commits with per-partition lineage + resume.

No Iceberg jars ship in this container, so this module implements the
Iceberg SEMANTICS on plain parquet (documented swap-in for a real catalog):
an append-only data directory partitioned by a bucket column, plus an atomic
JSON commit log under ``_manifest/`` recording, per snapshot: snapshot id,
parent id, committed buckets with row counts (lineage), the EXACT data-file
set per bucket (file-level manifests — the Iceberg read model), pending
merge-on-read delta batches per bucket, and wall-clock/row throughput
metrics.

Every write — ``commit``, ``append_deltas`` (with its compaction) and
``rollback`` — is one edit of a copy of the parent manifest, published by
the one commit core ``SnapshotTable._publish``; the data-writing ones share
one write step (``SnapshotTable._write``: staged append, NULL-bucket check,
footer rows and stats). Every manifest carries ``files`` and ``schema``;
one without them is ``SnapshotCorruptError``. The on-disk layout
(``data/{bucket_col}={bucket}/{file}`` for base files, the same under
``deltas/`` for delta batches) is known to this module alone: every reader,
``rollback``'s vacuumed-file check and ``vacuum`` list a manifest's files
through ``SnapshotTable._files``.

Guarantees:
- ``commit`` writes ONLY buckets not yet committed (idempotent resume: a
  re-run with the full input after a crash appends the missing buckets'
  rows as fresh files and the new manifest references only those — readers
  never see uncommitted files because ``read`` loads exactly the manifest's
  file set);
- writes are append-only: no overwrite mode, no driver-side staging-rename
  loop. An upsert appends one per-bucket delta batch applied at read time
  (``append_deltas``, merge-on-read — per-batch bytes written ∝ batch size,
  never bucket size). Its compaction is the only write that replaces a
  bucket's base files: the merged state is appended as fresh files and the
  bucket repointed at them; ``rollback`` only repoints. Prior snapshots'
  files stay on disk (snapshot isolation; ``vacuum`` collects);
- manifest publication is an atomic COMPARE-AND-SWAP through the
  ``ManifestStore`` seam (create version N iff absent), so two committers
  that derived the same parent race on the same version and exactly one
  wins — the loser either merges (its buckets are untouched by the winner)
  or raises ``SnapshotConflictError``; a concurrent snapshot can never be
  silently dropped. There is one file store, ``CasFileManifestStore``: a
  private fsync'd ``payload-*.json`` per version plus an O_EXCL
  ``v{N}.token`` naming it — no link or rename, so the same log runs on a
  mount of an object store. On S3/GCS/a catalog — where 100-TB tables
  live — a store backed by conditional PUT / catalog pointer CAS renders
  the same contract (documented on ``ManifestStore``; table logic is
  backend-independent and race-tested against the interface);
- a publisher crash between token create and CURRENT repoint is healed
  by roll-forward: every token names a payload that was completely
  written before the token existed, so readers adopt the newest
  contiguous version;
- a damaged log — a ``_manifest/`` in the retired hard-link ``v{N}.json``
  format included — raises ``SnapshotCorruptError``; it never reads as
  absent, so a commit never rewrites a table it cannot read;
- rows with a NULL bucket value FAIL the write (they would otherwise be
  silently dropped by the pending-bucket filter or land unreferenced in the
  Hive default partition);
- a no-op commit (everything already committed) re-publishes nothing.
"""

from __future__ import annotations

import copy
import json
import os
import re
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StringType, StructField, StructType

NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"
# a complete CasFileManifestStore payload name, as try_publish writes it
_PAYLOAD_NAME = re.compile(r"payload-[0-9a-f]{32}\.json")


class SnapshotIncrementalError(RuntimeError):
    """``read_changes`` found a non-append snapshot (merge-on-read delta
    batch, compaction, or rollback) inside the requested version range. File
    replacement cannot be expressed as "rows added", so the incremental
    contract would silently double-count or miss rows — the Iceberg
    incremental-append-scan rule: refuse and let the caller fall back to a
    full ``read`` of the target version."""


class SnapshotSchemaError(RuntimeError):
    """A write's schema conflicts with the table's committed schema: a
    same-named column with a DIFFERENT type. Adding new columns is schema
    evolution and is allowed (old files read back null for them); silently
    re-typing a column is not — readers of old files would see values under
    the wrong type. Write the new representation under a new column name."""


class SnapshotVacuumedError(RuntimeError):
    """The operation needs data files of an EXPIRED snapshot that ``vacuum``
    has already removed (Iceberg's expire_snapshots contract: vacuumed
    history is gone by design). Raised instead of publishing a manifest
    that would reference missing files — a rollback must restore exactly,
    never approximately."""


class SnapshotConflictError(RuntimeError):
    """A concurrent committer published a snapshot that conflicts with this
    write: the touched buckets' state changed since it was read. The data
    files this writer appended are unreferenced by any manifest (invisible
    to readers; ``vacuum`` collects them) — recompute against the new
    current snapshot and retry."""


class SnapshotCorruptError(RuntimeError):
    """The commit log is damaged: a published manifest lacks the ``files``
    or ``schema`` every write records, a CAS token names a complete
    payload that does not exist or does not parse, or the version is
    stored in the retired hard-link format (``v{N}.json``). None arises
    from a crash at any commit phase, so the table refuses to guess (and
    never reads such a log as empty) and an operator must repair it."""


class ManifestStore:
    """Manifest I/O seam — the ONLY component that changes to host a snapshot
    table's commit log somewhere other than a directory. ``SnapshotTable``
    keeps its log in the one file store, ``CasFileManifestStore``; the
    seam exists for catalog/object-store renderings and for the in-memory
    conditional-PUT model the race tests run against. SnapshotTable
    contains every table-logic invariant (merge vs conflict, roll-forward,
    lineage); a backend only has to provide these four primitives:

    - ``try_publish(version, manifest) -> bool``: atomically create the
      manifest for ``version`` IFF none exists, all-or-nothing, and return
      whether this writer won. This is the compare-and-swap token the whole
      optimistic-concurrency protocol rests on. Object-store renderings:
      S3 conditional ``PutObject`` with ``If-None-Match: *`` (natively
      supported since 2024), GCS ``x-goog-if-generation-match: 0``, Azure
      ``If-None-Match: *``; catalog rendering: Iceberg-style CAS of the
      table pointer conditioned on the parent snapshot id. Partial writes
      must never be visible (PUT is already atomic on object stores; the
      file store fsyncs a private payload before its token exists).
    - ``read_version(version) -> dict | None``: the published manifest, or
      None if that version does not exist (GET / catalog lookup).
    - ``latest_hint() -> int``: ADVISORY newest-version pointer, 0 if
      unknown. May lag the truth (a publisher can crash between publish and
      hint repoint); readers roll FORWARD from it via ``read_version``
      probes, so a stale hint costs extra probes, never wrong answers.
    - ``set_latest_hint(version)``: best-effort repoint after a won publish
      (small unconditional PUT / pointer update). Losing a race here is
      harmless for the same roll-forward reason.
    """

    def try_publish(self, version: int, manifest: dict) -> bool:
        raise NotImplementedError

    def read_version(self, version: int) -> dict | None:
        raise NotImplementedError

    def latest_hint(self) -> int:
        raise NotImplementedError

    def set_latest_hint(self, version: int) -> None:
        raise NotImplementedError


class CasFileManifestStore(ManifestStore):
    """The one file store: ``SnapshotTable(path)`` keeps its commit log here,
    under ``path/_manifest/``. Restricted to OBJECT-STORE-LEGAL primitives
    — no hard links, no atomic-rename assumptions — so the same log runs on
    a local disk and on a mounted object store; the protocol is write-temp
    + a generation-token CAS modeled on S3 conditional PUT
    (``If-None-Match: *``) / GCS ``x-goog-if-generation-match: 0``.

    Publish protocol per version N:

    1. the FULL manifest body is written (and fsync'd) to a writer-PRIVATE
       payload object ``payload-{uuid}.json`` — the multipart-upload body:
       never named by any reader until committed, so partial writes are
       invisible by construction (no rename/link needed for atomicity of
       the bytes);
    2. the CAS: create ``v{N}.token`` with ``O_CREAT|O_EXCL`` — the
       create-if-absent conditional write every object store/catalog
       offers. Exactly one writer wins; losers delete their private
       payload and report a lost race;
    3. the winner writes its payload object's NAME into the token (a
       one-line, sub-sector write, fsync'd) — the generation token now
       points at the committed body.

    Readers resolve ``v{N}.token`` → payload name → body. The only
    non-object-store artifact is the µs-scale window inside step 3 (token
    created but name not yet durable): a real conditional PUT commits body
    and name atomically and has NO such window. ``read_version`` therefore
    poll-tolerates an empty token briefly (a concurrent winner mid-step-3)
    and then treats the version as absent (a token holding a COMPLETE
    payload name whose file is missing is corruption, not this window, and
    raises ``SnapshotCorruptError`` at once); a writer that crashed exactly
    there burns the version number — the next committer's CAS on it fails
    and surfaces ``SnapshotConflictError`` for manual repair, which is the
    honest rendering of this emulation's gap, never a partial manifest.

    A token naming a payload that does not parse is corruption too (the
    payload was fsync'd before the token existed). A missing token beside
    a ``v{N}.json`` is the retired hard-link format, which wrote the
    manifest itself there: ``read_version`` raises ``SnapshotCorruptError``
    naming it rather than reading the table as empty.

    The ``CURRENT`` hint is advisory (see ManifestStore): it is written IN
    PLACE (plain truncate+write, no rename) precisely because torn reads
    must be tolerated by contract — a garbled hint parses to 0 and costs
    roll-forward probes, never wrong answers."""

    def __init__(self, manifest_dir: str, torn_token_wait_sec: float = 2.0):
        self.manifest_dir = manifest_dir
        self.torn_token_wait_sec = torn_token_wait_sec

    def _token_path(self, version: int) -> str:
        return os.path.join(self.manifest_dir, f"v{version}.token")

    def try_publish(self, version: int, manifest: dict) -> bool:
        # created by the first publish, not on open: reading a missing table
        # leaves nothing on disk (read_version and latest_hint treat a
        # missing file as absent)
        os.makedirs(self.manifest_dir, exist_ok=True)
        payload = f"payload-{uuid.uuid4().hex}.json"
        ppath = os.path.join(self.manifest_dir, payload)
        with open(ppath, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        try:
            fd = os.open(self._token_path(version), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            os.remove(ppath)  # lost the CAS; the private body is garbage
            return False
        try:
            os.write(fd, payload.encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        return True

    def read_version(self, version: int) -> dict | None:
        tpath = self._token_path(version)
        deadline = None
        while True:
            try:
                with open(tpath) as f:
                    name = f.read().strip()
            except FileNotFoundError:
                if os.path.exists(os.path.join(self.manifest_dir, f"v{version}.json")):
                    raise SnapshotCorruptError(
                        f"v{version} is stored as v{version}.json, the retired "
                        "hard-link manifest format; this table must be "
                        "migrated to v{N}.token + payload before it is read "
                        "or written"
                    ) from None
                return None
            if name:
                try:
                    with open(os.path.join(self.manifest_dir, name)) as f:
                        return json.load(f)
                except ValueError as e:
                    raise SnapshotCorruptError(
                        f"v{version}.token names payload {name}, which does "
                        f"not parse: {e}"
                    ) from None
                except FileNotFoundError:
                    # a COMPLETE name always points at a payload fsync'd
                    # before the token existed: its absence is corruption
                    # (deleted payload, tampering), not the commit window
                    if _PAYLOAD_NAME.fullmatch(name):
                        raise SnapshotCorruptError(
                            f"v{version}.token names payload {name}, which "
                            "does not exist"
                        ) from None
                    # a partial name is the same commit window as the
                    # empty token below
            # token created, name not yet (fully) visible: a winner is
            # inside the µs commit window (or died there). Brief poll,
            # then absent.
            now = time.monotonic()
            if deadline is None:
                deadline = now + self.torn_token_wait_sec
            elif now >= deadline:
                return None
            time.sleep(0.01)

    def latest_hint(self) -> int:
        try:
            with open(os.path.join(self.manifest_dir, "CURRENT")) as f:
                name = f.read().strip()  # "v{k}.token"
            if name.startswith("v") and name.endswith(".token"):
                return int(name[1:-6])
            return 0
        except (FileNotFoundError, ValueError, IndexError):
            return 0

    def set_latest_hint(self, version: int) -> None:
        # in-place overwrite, no rename: torn reads are tolerated by the
        # advisory-hint contract (parse failure → 0 → roll forward)
        with open(os.path.join(self.manifest_dir, "CURRENT"), "w") as f:
            f.write(f"v{version}.token")


class InMemoryManifestStore(ManifestStore):
    """Reference in-memory backend modeling a conditional-PUT object store /
    catalog (used by the race tests to prove SnapshotTable's protocol is
    backend-independent)."""

    def __init__(self):
        self.versions: dict[int, str] = {}
        self.hint = 0

    def try_publish(self, version: int, manifest: dict) -> bool:
        if version in self.versions:  # conditional PUT: If-None-Match: *
            return False
        self.versions[version] = json.dumps(manifest, sort_keys=True)
        return True

    def read_version(self, version: int) -> dict | None:
        s = self.versions.get(version)
        return json.loads(s) if s is not None else None

    def latest_hint(self) -> int:
        return self.hint

    def set_latest_hint(self, version: int) -> None:
        self.hint = version


class SnapshotTable:
    def __init__(
        self,
        path: str,
        store: ManifestStore | None = None,
        stat_cols: list[str] | None = None,
        sort_cols: list | None = None,
        max_records_per_file: int | None = None,
    ):
        """``stat_cols`` opts the table into manifest column statistics: every
        base-file write additionally records per-FILE [min, max] for those
        columns in the manifest (read from the parquet footers the commit
        already opens for row counts — no extra data read, no extra job), and
        ``read_where`` skips files whose range cannot intersect a query
        predicate — Iceberg's manifest-level file skipping. At 100 TB this is
        the difference between a selective query scanning its few hundred
        matching files and scanning the table.

        ``sort_cols`` (str column names or Column expressions, e.g.
        ``zorder_key(...)``) clusters rows WITHIN each write task before the
        parquet write, so each data file covers a narrow range of the sort
        key and the footer min/max actually bite. Sorting is per-task
        (``sortWithinPartitions`` — no extra shuffle beyond the bucket
        repartition the write already does).

        ``max_records_per_file`` bounds data-file size (Spark's
        ``maxRecordsPerFile`` writer option). With ``sort_cols`` set this is
        also the PRUNING GRANULARITY knob: a write task's sorted run splits
        into sequential chunks, so each file covers a contiguous, narrow
        slice of the sort key no matter how few write tasks there are.

        The commit log lives in ``CasFileManifestStore`` under
        ``path/_manifest/``; ``store`` is a test seam for the in-memory
        conditional-PUT model only."""
        self.path = path
        self.data_dir = os.path.join(path, "data")
        self.delta_dir = os.path.join(path, "deltas")
        self.manifest_dir = os.path.join(path, "_manifest")
        self.store = store if store is not None else CasFileManifestStore(self.manifest_dir)
        self.stat_cols = list(stat_cols) if stat_cols else []
        self.sort_cols = list(sort_cols) if sort_cols else []
        self.max_records_per_file = max_records_per_file

    # -- manifest -----------------------------------------------------------

    # manifest keys a commit attempt sets itself; everything else is content
    _LINEAGE = ("version", "snapshot_id", "parent_id", "metrics")

    def current(self) -> dict | None:
        """Newest published snapshot. Roll-forward: a manifest is fully
        published before the hint repoint (see ``ManifestStore``), so if a
        publisher crashed between the two, the version-chain tip — not the
        hint — is the truth."""
        k = self.store.latest_hint()
        m = self.store.read_version(k) if k else None
        while True:
            nxt = self.store.read_version(k + 1)
            if nxt is None:
                return m
            k, m = k + 1, nxt

    @staticmethod
    def _checked(m: dict | None) -> dict | None:
        """``m`` if it has the format every write publishes (``files`` and
        ``schema``), else SnapshotCorruptError: without the file lists the
        reference set is unknowable, without the schema the read is."""
        if m is not None:
            missing = [k for k in ("files", "schema") if k not in m]
            if missing:
                raise SnapshotCorruptError(
                    f"snapshot v{m.get('version')} manifest has no "
                    f"{' or '.join(missing)}"
                )
        return m

    def _manifest(self, version: int | None = None) -> dict:
        """The checked manifest of ``version`` (default: CURRENT)."""
        m = self.current() if version is None else self.store.read_version(version)
        if m is None:
            raise FileNotFoundError(
                f"no committed snapshot at {self.path}"
                if version is None
                else f"no snapshot v{version} at {self.path}"
            )
        return self._checked(m)

    @staticmethod
    def _bucket_entries(m: dict | None, buckets) -> dict:
        """Per-bucket (count, base files, deltas) triples — the state a
        writer's computation depends on, compared across parents to decide
        merge vs conflict."""
        bk = m["buckets"] if m else {}
        fl = m["files"] if m else {}
        dl = (m.get("deltas") or {}) if m else {}
        return {b: (bk.get(b), fl.get(b), dl.get(b)) for b in buckets}

    def _files(self, m: dict, keep=None):
        """(seq, bucket, full path) of every file manifest ``m`` references:
        its base files at seq 0, then each delta batch's files at the
        batch's sequence number (the order ``_merged_state`` folds them
        in). ``keep(bucket, file)``, if given, selects the files yielded.
        This is where a manifest entry becomes a path on disk."""
        col = m["bucket_col"]
        refs = [(0, b, fs) for b, fs in m["files"].items()] + [
            (seq, b, fs)
            for b, batches in (m.get("deltas") or {}).items()
            for seq, fs in batches
        ]
        for seq, b, fs in refs:
            bdir = os.path.join(self.delta_dir if seq else self.data_dir, f"{col}={b}")
            for f in fs:
                if keep is None or keep(b, f):
                    yield seq, b, os.path.join(bdir, f)

    def _publish(
        self, parent: dict | None, edit, metrics: dict, touched=(), max_retries: int = 5
    ) -> dict:
        """The one commit core. Each attempt derives the child from a deep
        copy of its parent with a new version, snapshot id and parent id;
        ``edit(child)`` applies the operation's change in place (or raises
        SnapshotConflictError); the child is CAS-published through the store
        and only the winner repoints the hint. On a lost race the attempt
        re-runs against the winner's snapshot — a concurrent snapshot is
        merged or this writer aborts; it is never silently replaced. The
        ``touched`` buckets' (count, files, deltas) must still be what this
        writer read, since it computed their new state from that read."""
        seen = self._bucket_entries(parent, touched)
        p = parent
        for _ in range(max_retries):
            self._checked(p)
            if self._bucket_entries(p, touched) != seen:
                raise SnapshotConflictError(
                    "touched buckets changed under a concurrent snapshot; "
                    "recompute from the new current state"
                )
            child = copy.deepcopy(p) if p else {"buckets": {}, "files": {}, "schema": []}
            child.update(
                version=(p["version"] + 1) if p else 1,
                snapshot_id=uuid.uuid4().hex,
                parent_id=p["snapshot_id"] if p else None,
                metrics=dict(metrics),
            )
            edit(child)
            if not child.get("stats"):
                child.pop("stats", None)
            if self.store.try_publish(child["version"], child):
                self.store.set_latest_hint(child["version"])
                return child
            p = self.current()
        raise SnapshotConflictError(f"gave up after {max_retries} CAS retries")

    @staticmethod
    def _write_metrics(t0: float, rows: dict[str, int]) -> dict:
        wall = time.time() - t0
        n = int(sum(rows.values()))
        return {
            "wall_sec": round(wall, 3),
            "rows_written": n,
            "rows_per_sec": round(n / max(wall, 1e-9), 1),
            "buckets_written": len(rows),
        }

    # -- schema evolution -----------------------------------------------------

    @staticmethod
    def _evolve_schema(
        child: dict, df: DataFrame, bucket_col: str, context: str, drop: str | None = None
    ) -> None:
        """Union-by-name schema evolution of ``child`` by a write of ``df``
        (the Iceberg add-column model): committed columns keep their position
        and type; a write may ADD new columns (appended, old files read back
        null) or OMIT committed ones (its files read back null for them); a
        same-named column with a different type raises SnapshotSchemaError.
        Fields are recorded nullable — parquet reality, since a file written
        before a column existed reads back null for it. ``drop`` names a
        batch-transport column that is not table state."""
        have = {f["name"]: f["type"] for f in child["schema"]}
        for f in df.schema.jsonValue()["fields"]:
            if f["name"] == drop:
                continue
            t = have.get(f["name"])
            if t is None:
                child["schema"].append(
                    {"name": f["name"], "type": f["type"], "nullable": True, "metadata": {}}
                )
                have[f["name"]] = f["type"]
            elif t != f["type"]:
                raise SnapshotSchemaError(
                    f"{context}: column {f['name']!r} has type {f['type']!r} "
                    f"but the table committed it as {t!r} — type changes are "
                    "not supported; add a new column instead"
                )
        child["bucket_col"] = bucket_col

    @staticmethod
    def _manifest_schema(m: dict) -> StructType:
        """The snapshot's table schema as a StructType. Passed as the
        EXPLICIT read schema so files written before a column evolution read
        back null for the later columns — without it Spark samples one
        file's footer and the result depends on which file it picks."""
        return StructType.fromJson({"type": "struct", "fields": m["schema"]})

    # -- write path ----------------------------------------------------------

    def _disk_files(self, bucket_col: str) -> list[str]:
        """Full paths of the parquet files currently in the base and delta
        bucket directories (metadata-only directory listing, no data
        read)."""
        out: list[str] = []
        for root in (self.data_dir, self.delta_dir):
            if not os.path.isdir(root):
                continue
            for d in os.listdir(root):
                if d.startswith(f"{bucket_col}="):
                    bdir = os.path.join(root, d)
                    out += [
                        os.path.join(bdir, f)
                        for f in os.listdir(bdir)
                        if f.endswith(".parquet")
                    ]
        return out

    # parquet physical types whose footer min/max are exact and totally
    # ordered. BYTE_ARRAY (strings/binary) is deliberately excluded: parquet
    # writers may TRUNCATE string min/max, so pruning on them can drop
    # matching files — a correctness hazard, not an optimization.
    _STAT_TYPES = {"INT32", "INT64", "FLOAT", "DOUBLE", "BOOLEAN"}

    @classmethod
    def _footer_rows_stats(
        cls, bdir: str, files: set[str], stat_cols: list[str]
    ) -> tuple[int, dict[str, dict[str, list]]]:
        """(total rows, {file: {col: [min, max]}}) of a bucket directory from
        parquet footers — metadata-only, no column data is read; at cluster
        scale this is the same footer metadata a catalog manifest records at
        write time. Footer opens are I/O-latency-bound, so they run on a
        small thread pool — serially this is driver time that no executor
        count can parallelize.

        Stats merge across a file's row groups; a column missing min/max in
        ANY row group (or of a non-prunable physical type) gets no entry for
        that file — absent stats mean "never prune", so degradation is always
        toward correctness."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        wanted = set(stat_cols)

        def info(p: str) -> tuple[str, int, dict]:
            md = pq.ParquetFile(p).metadata
            col_stats: dict[str, list] = {}
            bad: set[str] = set()
            if not wanted:  # row-count-only callers skip the footer walk
                return os.path.basename(p), md.num_rows, col_stats
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    name = col.path_in_schema
                    if name not in wanted or name in bad:
                        continue
                    st = col.statistics
                    if (
                        st is None
                        or not st.has_min_max
                        or col.physical_type not in cls._STAT_TYPES
                        or not isinstance(st.min, (int, float))
                        or not isinstance(st.max, (int, float))
                    ):
                        bad.add(name)
                        col_stats.pop(name, None)
                        continue
                    cur = col_stats.get(name)
                    if cur is None:
                        col_stats[name] = [st.min, st.max]
                    else:
                        cur[0] = min(cur[0], st.min)
                        cur[1] = max(cur[1], st.max)
            return os.path.basename(p), md.num_rows, col_stats

        paths = [os.path.join(bdir, f) for f in files]
        if len(paths) <= 2:
            infos = [info(p) for p in paths]
        else:
            with ThreadPoolExecutor(min(16, len(paths))) as ex:
                infos = list(ex.map(info, paths))
        rows = sum(n for _, n, _ in infos)
        stats = {f: s for f, n, s in infos if s}
        return rows, stats

    def _write(
        self, batch: DataFrame, bucket_col: str, deltas: bool = False
    ) -> tuple[dict[str, list[str]], dict[str, int], dict]:
        """The one write step: staged tracked append of ``batch`` (to the
        delta dir for ``deltas``), then (files, rows, stats) per bucket
        written — rows and ``stat_cols`` statistics from the fresh parquet
        footers (metadata-only; delta batches get row counts only).

        Rows with a NULL bucket value fail the write: the callers' filters
        are null-SAFE, so such rows land in the Hive default partition and
        are detected here BEFORE publish — the commit aborts and the files
        stay unreferenced (invisible to readers, collected by vacuum)."""
        root = self.delta_dir if deltas else self.data_dir
        files = self._write_append_tracked(batch, bucket_col, root)
        if files.get(NULL_PARTITION):
            raise ValueError(
                "rows with a NULL bucket value cannot be committed (they "
                "would be invisible to manifest readers); filter or impute "
                "the bucket column first"
            )
        rows, stats = {}, {}
        for b, fs in files.items():
            rows[b], st = self._footer_rows_stats(
                os.path.join(root, f"{bucket_col}={b}"),
                set(fs),
                [] if deltas else self.stat_cols,
            )
            if st:
                stats[b] = st
        return files, rows, stats

    def commit(self, df: DataFrame, bucket_col: str) -> dict:
        """Write all not-yet-committed buckets of ``df`` and publish one new
        snapshot. Resume after a crash means re-running with the FULL input:
        buckets the table already has are filtered out, so only the missing
        ones are written; a re-run with nothing missing publishes nothing.

        SINGLE-PASS over the input: the committed-bucket filter comes from
        the manifest (no scan), the staged partitioned APPEND is the only
        job that computes the upstream plan, and the per-bucket lineage row
        counts come from the freshly written parquet footers
        (metadata-only). Writes never overwrite or move committed data: new
        files are staged then moved into place (same-filesystem renames —
        metadata-only, O(this job's files)), the manifest records each
        bucket's exact file set, and readers see only manifest files.

        Concurrency: publish is CAS'd. A concurrent snapshot over DISJOINT
        buckets is merged transparently; one that committed any bucket this
        call wrote raises SnapshotConflictError (nothing is dropped either
        way). The staged move tracks EXACTLY this job's files, so a
        concurrent writer's not-yet-published files can never be claimed."""
        t0 = time.time()
        parent = self._checked(self.current())
        batch = df
        if parent and parent["buckets"]:
            # null-SAFE filter: null-bucket rows fail the isin test with
            # NULL, which `where` drops — keep them so the write rejects them
            bstr = F.col(bucket_col).cast("string")
            batch = df.where(bstr.isNull() | ~bstr.isin(sorted(parent["buckets"])))
        files, rows, stats = self._write(batch, bucket_col)
        if not rows:
            return {"written_buckets": 0, "snapshot": self.current()}

        def edit(child: dict) -> None:
            self._evolve_schema(child, df, bucket_col, "commit")
            # this job's files are exactly its own, so any of its buckets
            # already in the (possibly concurrent) parent is a genuine
            # double write — conflict, nothing may be dropped or mixed
            for b in rows:
                if b in child["buckets"]:
                    raise SnapshotConflictError(f"bucket {b} was committed concurrently")
            child["buckets"].update(rows)
            child["files"].update(files)
            child.setdefault("stats", {}).update(stats)

        m = self._publish(parent, edit, self._write_metrics(t0, rows))
        return {"written_buckets": len(rows), "snapshot": m}

    # -- merge-on-read deltas -------------------------------------------------

    def append_deltas(
        self,
        df: DataFrame,
        bucket_col: str,
        buckets: list[str] | None,
        key_cols: list[str],
        op_col: str = "_op",
        compact_threshold: int = 8,
    ) -> dict:
        """Merge-on-read upsert: append ONE delta batch (insert rows with
        ``op_col``='i', delete keys with ``op_col``='d') for the given
        buckets and publish. ``buckets=None`` derives the touched set from
        the staged write's own output (the per-bucket files the tasks
        produced) — no driver-side ``distinct().collect()`` pre-pass over
        the batch, and an EMPTY batch publishes nothing.
        Per-batch I/O is ∝ BATCH size — the touched
        buckets' base files are neither read nor rewritten; ``read`` applies
        pending delta batches in sequence order (insert-if-missing on
        ``key_cols``, then equality-delete — the Iceberg v2 equality-delete
        model). When a bucket accumulates ``compact_threshold`` delta batches,
        it is compacted in the same publish: its merged state is appended as
        fresh base files and the deltas cleared, bounding read-time work.

        Sequencing across batches uses the manifest version at append time;
        replaying the same batch (at-least-once delivery) is idempotent
        because insert-if-missing and equality-delete both are."""
        spark = df.sparkSession
        t0 = time.time()
        parent = self._checked(self.current())
        batch, bset = df, None
        if buckets is not None:
            bset = sorted({str(b) for b in buckets})
            # null-SAFE filter: a NULL bucket fails isin with NULL and
            # `where` would silently drop the mutation
            bstr = F.col(bucket_col).cast("string")
            batch = df.where(bstr.isin(bset) | bstr.isNull())
        files, rows, _ = self._write(batch, bucket_col, deltas=True)
        if bset is None:
            bset = sorted(files)
            if not bset:  # empty batch: nothing written, nothing published
                return {"written_buckets": 0, "compacted_buckets": [], "snapshot": self.current()}
        # bucket -> (files, rows, stats) of its compaction; written once,
        # reused by every CAS retry
        compacted: dict[str, tuple] = {}

        def edit(child: dict) -> None:
            # the op column is batch transport, not table state
            self._evolve_schema(child, df, bucket_col, "append_deltas", drop=op_col)
            deltas = child.setdefault("deltas", {})
            for b in bset:
                if b in files:
                    deltas.setdefault(b, []).append([child["version"], files[b]])
            child["delta_key"] = list(key_cols)
            child["delta_op"] = op_col
            child["metrics"]["delta_batches"] = {b: len(v) for b, v in deltas.items()}
            due = [b for b in bset if len(deltas.get(b, [])) >= compact_threshold]
            if due:
                self._compact_into(spark, child, due, compacted)

        m = self._publish(parent, edit, self._write_metrics(t0, rows), touched=bset)
        return {
            "written_buckets": len(rows),
            "compacted_buckets": sorted(b for b, c in compacted.items() if c[0]),
            "snapshot": m,
        }

    def rollback(self, to_version: int) -> dict:
        """Publish a NEW snapshot whose content is exactly ``to_version``
        (the Iceberg ``rollback_to_snapshot`` model: HISTORY only moves
        forward — the bad versions stay inspectable via time travel, data
        moves back). No data I/O: the child manifest repoints at the
        target's file/delta sets; cost is two manifest reads + one CAS
        publish. Refuses if any of the target's files has been vacuumed
        (CURRENT no longer referenced them, so ``vacuum`` may have removed
        them — a rollback must restore exactly, never approximately).
        Concurrency: CAS-retried like every publish; a concurrent commit
        simply becomes the parent (its content is superseded by the
        rollback, which is the caller's stated intent, but never silently
        dropped from history). Incremental readers (``read_changes``, the
        ``snapshot_changes`` stream) see a non-append step and refuse the
        range, as they must."""
        target = self._manifest(to_version)

        def edit(child: dict) -> None:
            # re-checked on every attempt so a vacuum racing a CAS retry
            # cannot slip a dead manifest through; the residual window
            # between the last check and the publish is the same one Iceberg
            # accepts (concurrent expire_snapshots + rollback is operator
            # error either way)
            missing = [p for _, _, p in self._files(target) if not os.path.exists(p)]
            if missing:
                raise SnapshotVacuumedError(
                    f"rollback to v{to_version} impossible: {len(missing)} "
                    f"of its data/delta files were vacuumed "
                    f"(first: {os.path.relpath(missing[0], self.path)})"
                )
            for k in [k for k in child if k not in self._LINEAGE]:
                del child[k]
            child.update(
                copy.deepcopy({k: v for k, v in target.items() if k not in self._LINEAGE})
            )

        return self._publish(
            self.current(), edit, {"op": "rollback", "rolled_back_to": to_version}
        )

    def _compact_into(
        self,
        spark: SparkSession,
        child: dict,
        buckets: list[str],
        compacted: dict[str, tuple],
    ) -> None:
        """Rewrite the merged (base ⊕ deltas) state of ``buckets`` as fresh
        base files and clear their deltas in ``child``. The physical write
        runs once; a CAS retry reuses the files and footer facts cached in
        ``compacted``."""
        if not compacted:
            files, rows, stats = self._write(
                self._merged_state(spark, child, restrict=buckets), child["bucket_col"]
            )
            for b in buckets:
                compacted[b] = (files.get(b), rows.get(b), stats.get(b))
        for b in buckets:
            # the parent's stats describe the REPLACED files — always drop
            for key in ("buckets", "files", "stats", "deltas"):
                child.get(key, {}).pop(b, None)
            files_b, rows_b, st = compacted[b]
            if files_b:  # else every row was deleted
                child["files"][b] = files_b
                child["buckets"][b] = rows_b
                if st:
                    child.setdefault("stats", {})[b] = st

    def _merged_state(
        self, spark: SparkSession, m: dict, restrict: list[str] | None = None
    ) -> DataFrame:
        """Base rows of the delta'd buckets with every pending delta batch
        applied in sequence order: per batch, insert-if-missing on the delta
        key, then equality-delete.

        ONE window pass, not a per-batch join chain: the sequential fold's
        outcome per key is closed-form — a base row survives iff the key was
        never deleted; an insert row survives iff its sequence exceeds the
        key's last delete AND it belongs to the FIRST insert batch after
        that delete with the key not already present (insert-if-missing:
        later batches find the key occupied; a same-batch delete kills its
        own batch's insert because ``seq > last_del`` fails at equality —
        inserts apply before deletes within a batch). Two windowed
        aggregates over (bucket, key) compute last-delete and
        first-live-insert, so merge cost is one shuffle independent of how
        many delta batches are pending — at scale the read/compaction fan-in
        is a constant number of stages, not O(#batches) joins."""
        from pyspark.sql import Window

        bucket_col = m["bucket_col"]
        keys = m["delta_key"]
        op = m["delta_op"]
        pending = {
            b for b, v in (m.get("deltas") or {}).items()
            if v and (restrict is None or b in restrict)
        }
        # the pending buckets' base files (seq 0) and delta batches; same-seq
        # files across buckets load as one read
        by_seq: dict[int, list[str]] = {}
        for seq, _, p in self._files(m, keep=lambda b, f: b in pending):
            by_seq.setdefault(seq, []).append(p)
        state_cols = [f["name"] for f in m["schema"]]
        parts = []
        for seq in sorted(by_seq):
            if seq:
                # delta batches read under the table schema plus the op
                # transport column: batches written before a column
                # evolution null-fill it
                df, kind = self._scan(spark, m, by_seq[seq], op=op), F.col(op)
            else:
                df, kind = self._scan(spark, m, by_seq[seq]), F.lit("b")
            parts.append(df.select(*state_cols, kind.alias("_ev"), F.lit(seq).alias("_seq")))
        ev = parts[0]
        for p in parts[1:]:
            ev = ev.unionByName(p)
        w = Window.partitionBy(bucket_col, *keys)
        last_del = F.max(F.when(F.col("_ev") == "d", F.col("_seq"))).over(w)
        has_base = F.max((F.col("_ev") == "b").cast("int")).over(w)
        live_ins = F.min(
            F.when(
                (F.col("_ev") == "i")
                & (F.col("_seq") > F.coalesce(last_del, F.lit(-1)))
                & ~((has_base == 1) & last_del.isNull()),
                F.col("_seq"),
            )
        ).over(w)
        survives = ((F.col("_ev") == "b") & last_del.isNull()) | (
            (F.col("_ev") == "i") & (F.col("_seq") == live_ins)
        )
        return ev.withColumn("_keep", survives).where(F.col("_keep")).select(state_cols)

    def vacuum(self, stage_grace_sec: float = 3600.0) -> int:
        """Delete data/delta files not referenced by the CURRENT manifest
        (expired snapshots' files and crash residue). Returns #files removed.
        The Iceberg analogue is expire_snapshots + remove_orphan_files.
        Staging directories are removed only when older than
        ``stage_grace_sec`` (mtime-based, like Iceberg orphan-file cleanup's
        ``older_than``): a LIVE concurrent writer's stage dir is younger than
        the grace window, so vacuum no longer silently drops an in-flight
        write's files mid-move (ADVICE r3) — pass 0 only when no writer can
        be active."""
        m = self._checked(self.current())
        if m is None:
            return 0
        live = {p for _, _, p in self._files(m)}
        removed = 0
        for p in self._disk_files(m["bucket_col"]):
            if p not in live:
                os.remove(p)
                removed += 1
        # staging residue from writers that crashed mid-move — only stages
        # whose NEWEST file/dir mtime is older than the grace window. The
        # top-level dir mtime alone is set at job start, so a live writer
        # whose write phase outlasts the grace period would look stale; any
        # in-flight task keeps producing fresh mtimes somewhere in the
        # subtree, which is what a live stage actually looks like.
        cutoff = time.time() - stage_grace_sec
        for d in os.listdir(self.path):
            if d.startswith(".stage-"):
                p = os.path.join(self.path, d)
                try:
                    newest = os.path.getmtime(p)
                    for root_, dirs_, files_ in os.walk(p):
                        for e in dirs_ + files_:
                            newest = max(
                                newest, os.path.getmtime(os.path.join(root_, e))
                            )
                    if newest <= cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except FileNotFoundError:
                    pass  # a racer finished and removed its own stage
        return removed

    def _write_append_tracked(
        self, batch: DataFrame, bucket_col: str, target: str | None = None
    ) -> dict[str, list[str]]:
        """Append via a writer-PRIVATE staging dir, then move the files into
        place — returns EXACTLY this job's file names per bucket. The plain
        after-minus-before listing diff can swallow a CONCURRENT writer's
        not-yet-published files landing between the two listings; claimed by
        this manifest, they would resurrect the loser's aborted rows —
        which is why EVERY write path (commit, deltas, compaction) routes
        through here since r4. The move is O(this job's files) driver
        renames — same-filesystem metadata ops, measured
        ≤ 0.2 s of added serial at 5M rows in the scaling bench. Writer
        file names embed a job-unique UUID, so moves never collide; a crash
        mid-move leaves unreferenced files (invisible; vacuum collects) and
        stage residue dirs (vacuum removes those too)."""
        target = target or self.data_dir
        stage = os.path.join(self.path, f".stage-{uuid.uuid4().hex}")
        prefix = f"{bucket_col}="
        moved: dict[str, list[str]] = {}
        try:
            self._write_append(batch, bucket_col, stage)
            if os.path.isdir(stage):
                for d in os.listdir(stage):
                    if not d.startswith(prefix):
                        continue
                    os.makedirs(os.path.join(target, d), exist_ok=True)
                    for fn in os.listdir(os.path.join(stage, d)):
                        if fn.endswith(".parquet"):
                            os.rename(
                                os.path.join(stage, d, fn), os.path.join(target, d, fn)
                            )
                            moved.setdefault(d[len(prefix):], []).append(fn)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return {b: sorted(fs) for b, fs in moved.items()}

    def _write_append(self, batch: DataFrame, bucket_col: str, target: str | None = None) -> None:
        """Append-only partitioned parquet write, shuffled on
        (bucket, source-partition-id): salting the clustering key with the
        map-side partition id splits every bucket across the reduce tasks in
        ~#input-partition-sized units, so reducer LOAD is balanced — a plain
        repartition(bucket) hashes whole buckets into reducers (balls-into-
        bins: with K reducers over B buckets the fullest reducer carries
        ~2× the mean payload, and the write stage's wall is the straggler's).
        Each reduce task then holds a handful of buckets; the writer's
        partition-sort handles the per-task fan-out. Files per bucket =
        O(reducers), bounded by shuffle.partitions, never #map-tasks.
        Visibility comes from the manifest (readers load exactly the
        manifest's file set), so append needs no overwrite mode and no
        driver-side staging renames."""
        if self.sort_cols:
            # clustered write: RANGE-partition on (bucket, sort key) so each
            # write task owns a contiguous key slab — per-bucket files then
            # cover narrow, disjoint sort-key ranges and the footer min/max
            # recorded in the manifest actually prune (``read_where``).
            # repartitionByRange samples the batch to pick balanced quantile
            # boundaries (one extra sampling pass; load balance comes from
            # row-count quantiles instead of the hash salt below). The
            # task-local sort adds no shuffle.
            #
            # EXPRESSION sort keys (e.g. the z-order key) are STAGED as real
            # columns first and dropped after the sort: as bare expressions
            # they are re-evaluated per row in the sampling pass, the
            # exchange AND the sort (measured 6.0 s → 2.5 s for the 6M-row
            # z-ordered write); as columns they are computed once below the
            # exchange and pruned from the written files (the project above
            # the sort cannot reorder rows). Rows written are identical.
            staged = batch
            sort_exprs = []
            staged_names = []
            for i, c in enumerate(self.sort_cols):
                if isinstance(c, str):
                    sort_exprs.append(F.col(c))
                else:
                    name = f"_snap_sortkey_{i}"
                    if name in batch.columns:
                        # withColumn would silently OVERWRITE the user's
                        # column and the post-sort drop would lose it
                        raise ValueError(
                            f"input column {name!r} collides with the "
                            "clustered write's staged sort key; rename it"
                        )
                    staged = staged.withColumn(name, c)
                    staged_names.append(name)
                    sort_exprs.append(F.col(name))
            shaped = staged.repartitionByRange(
                F.col(bucket_col), *sort_exprs
            ).sortWithinPartitions(F.col(bucket_col), *sort_exprs)
            if staged_names:
                shaped = shaped.drop(*staged_names)
        else:
            # AQE REBALANCE on the bucket column (guide §6): partitions are
            # hash-clustered by bucket, then AQE merges undersized and
            # SPLITS oversized post-shuffle partitions toward the advisory
            # size — the adaptive version of the old manual
            # (bucket, spark_partition_id) salt. Small commits stop
            # spraying one file per (bucket × reducer) (a 20k-row commit
            # measured 191 files / 1.33 s → 32 files / 0.80 s), and a hot
            # bucket still splits across tasks via
            # optimizeSkewsInRebalancePartitions instead of the salt.
            shaped = batch.hint("rebalance", bucket_col)
        writer = shaped.write.partitionBy(bucket_col).mode("append")
        if self.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", self.max_records_per_file)
        writer.parquet(target or self.data_dir)

    # -- read path -----------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Committed data only: load EXACTLY the manifest's file set (crash
        residue and expired snapshots' files in the data dir are never
        visible — file-level manifests, the Iceberg read model), with pending
        merge-on-read delta batches applied (see ``append_deltas``).

        ``version`` time-travels to a specific published snapshot (default:
        CURRENT). Snapshot isolation makes this exact — upserts/compactions
        never touch prior versions' files — until ``vacuum`` expires the
        files CURRENT no longer references (Iceberg's expire_snapshots
        contract: vacuumed history is gone by design)."""
        return self._read(spark, self._manifest(version))

    def _read(self, spark: SparkSession, m: dict, keep=None) -> DataFrame:
        """``read`` of the resolved manifest ``m``. ``keep(bucket, file)``
        selects the base files of buckets without pending deltas (the
        delta'd buckets load whole through the merged path)."""
        deltas = {b for b, v in (m.get("deltas") or {}).items() if v}
        paths = [p for seq, b, p in self._files(m, keep) if not seq and b not in deltas]
        if not deltas:
            return self._scan(spark, m, paths)
        merged = self._merged_state(spark, m)
        if not paths:
            return merged
        return self._scan(spark, m, paths).unionByName(merged)

    def _scan(
        self, spark: SparkSession, m: dict, paths: list[str], op: str | None = None
    ) -> DataFrame:
        """Parquet read of ``paths`` under ``m``'s EXPLICIT table schema
        (plus the ``op`` transport column of delta batches, which live under
        the delta dir): files written before a column was added read back
        null for it, and the partition column gets its committed type from
        the schema. Spark surfaces the partition column LAST, so the result
        is re-projected to the manifest's column order. No paths → an empty
        frame of that schema."""
        st = self._manifest_schema(m)
        root = self.data_dir
        if op is not None:
            st = StructType(list(st.fields) + [StructField(op, StringType(), True)])
            root = self.delta_dir
        if not paths:  # zero partitions: no task, no Python worker
            return spark.createDataFrame(spark.sparkContext.emptyRDD(), st)
        df = spark.read.option("basePath", root).schema(st).parquet(*paths)
        return df.select(*st.fieldNames())

    def read_where(
        self,
        spark: SparkSession,
        ranges: dict[str, tuple],
        version: int | None = None,
    ) -> DataFrame:
        """``read`` restricted to ``{col: (lo, hi)}`` closed ranges, with
        manifest-level FILE SKIPPING: base files whose recorded [min, max]
        (see ``stat_cols``) cannot intersect a range are never handed to the
        scan — the Iceberg manifest-pruning model, decided driver-side from
        the manifest alone (no file footer is opened, no job runs). The same
        range predicates are also applied as row filters (and pushed to the
        parquet reader for row-group skipping within surviving files), so the
        result is EXACTLY ``read().where(lo <= col <= hi ...)`` — pruning can
        only remove files that contain no matching rows.

        Files or columns without stats are kept (absent stats never prune);
        buckets with pending merge-on-read deltas load through the merged
        path and are filtered row-wise. A bound of ``None`` leaves that side
        open (``(lo, None)`` = ``col >= lo``)."""
        m = self._manifest(version)
        stats = m.get("stats", {})

        def keep(b: str, f: str) -> bool:
            fstats = stats.get(b, {}).get(f)
            if not fstats:
                return True
            for c, (lo, hi) in ranges.items():
                s = fstats.get(c)
                if s is None:
                    continue
                mn, mx = s
                if (hi is not None and mn > hi) or (lo is not None and mx < lo):
                    return False
            return True

        # prune decisions and the scanned file set come from the SAME
        # manifest (a concurrent commit between two current() calls could
        # otherwise split them), and each read_where pays ONE manifest
        # resolution, not two
        df = self._read(spark, m, keep)
        for c, (lo, hi) in ranges.items():
            if lo is not None:
                df = df.where(F.col(c) >= lo)
            if hi is not None:
                df = df.where(F.col(c) <= hi)
        return df

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Incremental read: EXACTLY the rows added between committed
        snapshot ``from_version`` (exclusive) and ``to_version`` (inclusive,
        default CURRENT) — the consumption primitive for a pipeline that
        ingests a growing table in version-watermarked increments (training
        runs, downstream materializations) without rescanning history.

        The version chain from → to is walked MANIFEST-ONLY (driver-side,
        no job): every step must be a pure base-file append (``commit`` of
        new buckets) — the added rows are then exactly the added files, and
        ``read_changes(a, b)`` unioned with ``read(a)`` equals ``read(b)``
        row-for-row. A step that replaced or removed files, or touched
        merge-on-read delta state (``append_deltas``, its compaction,
        ``rollback``), raises ``SnapshotIncrementalError``: file replacement
        has no sound "rows added" reading (the Iceberg incremental-scan
        contract — refuse, never approximate). Vacuumed history raises
        ``FileNotFoundError``. I/O is ∝ the increment, not the table: only
        the added files are scanned."""
        if from_version < 1:
            raise ValueError(f"from_version={from_version} outside [1, ...]")
        m_to, added = self.added_files(from_version, to_version)
        # the increment reads under the TO-version's table schema: files
        # appended before a later column evolution null-fill it
        return self._scan(spark, m_to, [p for _, p in added])

    def added_files(
        self, from_version: int, to_version: int | None = None
    ) -> tuple[dict, list[tuple[str, str]]]:
        """Manifest-only chain walk shared by ``read_changes`` and the
        ``snapshot_changes`` streaming source: (to-manifest, [(bucket, full
        path)] of the base files added after ``from_version`` up to and
        including ``to_version``), sorted for determinism. ``from_version=0`` is the INITIAL-LOAD case —
        every file of the target version, no walk — and refuses a table with
        pending merge-on-read deltas (their fold is a join, not a file list;
        compact first). Every walked step must be a pure base-file append,
        else SnapshotIncrementalError (see ``read_changes``)."""
        m_to = self._manifest(to_version)
        to_version = m_to["version"]
        if not 0 <= from_version <= to_version:
            raise ValueError(
                f"from_version={from_version} outside [0, {to_version}]"
            )
        if from_version == 0:
            if any(v for v in (m_to.get("deltas") or {}).values()):
                raise SnapshotIncrementalError(
                    f"v{to_version} has pending merge-on-read deltas: the "
                    "initial load cannot be expressed as a file list; "
                    "compact the table first"
                )
            return m_to, sorted((b, p) for seq, b, p in self._files(m_to) if not seq)
        # walk child → parent, validating linkage and append-only-ness
        child = m_to
        while child["version"] > from_version:
            v = child["version"] - 1
            parent = self._checked(self.store.read_version(v))
            if parent is None:
                raise FileNotFoundError(
                    f"no snapshot v{v} at {self.path} (vacuumed history?)"
                )
            if child.get("parent_id") != parent["snapshot_id"]:
                raise SnapshotIncrementalError(
                    f"v{child['version']} does not descend from v{v}"
                )
            if (parent.get("deltas") or {}) != (child.get("deltas") or {}):
                raise SnapshotIncrementalError(
                    f"v{v}→v{v + 1} changed merge-on-read delta state "
                    "(append_deltas/compaction): not an append-only step"
                )
            for b, fs in parent["files"].items():
                if not set(fs) <= set(child["files"].get(b, [])):
                    raise SnapshotIncrementalError(
                        f"v{v}→v{v + 1} replaced files of bucket {b} "
                        "(compaction/rollback): not an append-only step"
                    )
            child = parent
        m_from = child
        if m_from["version"] != from_version:  # pragma: no cover
            raise SnapshotIncrementalError("version chain did not close")
        old = {(b, f) for b, fs in m_from["files"].items() for f in fs}
        return m_to, sorted(
            (b, p)
            for seq, b, p in self._files(m_to, keep=lambda b, f: (b, f) not in old)
            if not seq
        )
