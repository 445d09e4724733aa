"""Versioned table as a STREAMING SOURCE (round 9) — the read-side
twin of `streaming/versioned_sink.py`, completing Delta's
streaming-source parity: a Structured Streaming query subscribes to
an append-only versioned table and receives each committed version's
new rows exactly once.

    spark.dataSource.register(VersionedTableStreamSource)
    s = (spark.readStream.format("versioned_table")
         .option("path", "/data/tables/events").load())

Why this composes correctly:

- OFFSETS ARE VERSION NUMBERS: ``{"version": N}`` means "versions
  <= N consumed". Manifests are immutable once committed, so
  ``partitions(start, end)`` is deterministic — the replay contract
  Structured Streaming requires — and exactly-once composes from
  these offsets plus any idempotent sink (including the versioned
  sink itself, giving table-to-table incremental pipelines).
- PARTITIONED READS: each appended data FILE becomes one
  InputPartition, so a micro-batch's rows are read executor-parallel
  (this is the full ``DataSourceStreamReader`` API, not the
  driver-side Simple reader — a version's append may be arbitrarily
  large).
- APPEND-ONLY CONTRACT: a version that rewrites history
  (overwrite/delete/merge/optimize) raises — same stance as Delta's
  streaming source without ignoreChanges; ``op=analyze`` versions are
  metadata-only and skipped. `operators/cdf.table_changes` is the
  batch path for rewritten ranges.
- CHANGE-FEED MODE (round 10): ``.option("readChangeFeed", "true")``
  streams THROUGH history rewrites instead of refusing. Each version's
  change set is reconstructed from the manifest file lists alone — the
  add/remove-file CDC reconstruction Delta uses when no per-row change
  files exist: an append's added files emit as ``_change_type =
  'insert'``; a rewrite (overwrite/delete/merge) emits the files it
  REMOVED (parent snapshot minus current) as ``'delete'`` rows and the
  files it ADDED as ``'insert'`` rows; ``optimize`` is data-neutral by
  construction (same logical rows, compacted files) and is SKIPPED, so
  compaction never floods subscribers. Retract-apply over this feed
  always equals the snapshot — the multiset identity the tests pin —
  at O(rewritten files) per version, never O(snapshot). Rows carry the
  table schema plus ``_change_type string`` and ``_commit_version
  long`` (the Delta CDF column contract).
- ROW-LEVEL GRANULARITY (round 11): a rewrite whose writer opted in
  (``delete_from_table(..., change_data=True)`` /
  ``merge_upsert_table(..., change_data=True)``) commits its exact
  change rows as change files listed in the manifest (``"changes"``),
  and the feed reads THOSE — O(changed rows), so a 1-row MERGE on a
  multi-file table streams exactly its retraction + insertion instead
  of every row of the rewritten files. Rewrites without change files
  keep the file-diff reconstruction; both modes satisfy the same
  retract-apply identity, and both are manifest-derived, hence
  replay-deterministic across restarts. Merge-on-read DELETEs
  (deletion vectors — no file changes at all, so the file diff would
  emit nothing) stream their own DV files' (file, row_index)
  positions as retractions, read with a pyarrow ``take`` of exactly
  the deleted rows.
- START POSITIONS: ``startingVersion`` (versions <= N already
  consumed) or ``startingTimestamp`` (round 12 — epoch millis;
  versions committed at or before the stamp are already consumed,
  resolved against the manifests' ts_ms like TIMESTAMP AS OF).
- SCHEMA comes from the latest manifest's recorded schema (write-path
  schema evolution records it per version); pre-evolution files
  null-fill the missing columns at read, mirroring `read_table`'s
  mergeSchema semantics.

The log is read with plain-Python filesystem IO because DataSource
code runs in Python workers without a JVM session — local-FS paths
(and ``file:`` URIs) only in this environment, the same documented
boundary as the footer-stats reader.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import DataSource, DataSourceStreamReader, InputPartition

from wnv_etl_lab2_spark.sources.table_manifest import (
    LOG_DIR,
    manifest_file,
    manifest_version,
    require_features,
)
from wnv_etl_lab2_spark.sources.table_paths import (
    filter_str,
    local_path,
    manifest_path,
    partition_values,
)

# sentinel change_type for partitions whose file IS a change file:
# each row carries its own _change_type column (row-level CDF mode)
_FROM_FILE = "__from_file__"


def _local(path: str) -> str:
    lp = local_path(path)
    if lp is not None:
        return lp
    raise NotImplementedError(
        f"versioned_table streaming source is local-FS-only here: {path}"
    )


def _py_list_versions(table_path: str) -> list[int]:
    log = os.path.join(_local(table_path), LOG_DIR)
    if not os.path.isdir(log):
        return []
    return sorted(
        v for v in map(manifest_version, os.listdir(log)) if v is not None
    )


def _py_read_manifest(table_path: str, version: int) -> dict:
    with open(manifest_file(_local(table_path), version)) as f:
        # the same reader feature gate `versioned._read_manifest` applies
        return require_features(json.load(f), table_path, version)


def _py_visible(m: dict) -> bool:
    """Python twin of `versioned._txn_visible`: a manifest stamped by
    a cross-table transaction is invisible until the transaction's
    ``.final`` outcome marker reads "committed" (round 10)."""
    txn = m.get("txn")
    if txn is None:
        return True
    marker = os.path.join(_local(txn["log"]), f"{txn['id']}.final")
    if not os.path.exists(marker):
        return False
    with open(marker) as f:
        return f.read().strip() == "committed"


def _py_latest_visible(table_path: str) -> int | None:
    for v in reversed(_py_list_versions(table_path)):
        if _py_visible(_py_read_manifest(table_path, v)):
            return v
    return None


def _py_file_list(d: str) -> list[str]:
    """The path column of a parquet file-list directory (checkpoint or
    manifest sidecar) via pyarrow — the DataSource runs in workers
    without a JVM session. pyarrow's dataset reader skips Spark's
    _-prefixed marker files by default."""
    import pyarrow.parquet as pq

    return [
        _local(p)
        for p in pq.read_table(d, columns=["path"]).column("path").to_pylist()
    ]


def _py_manifest_files(m: dict) -> list[str] | None:
    """A manifest's full snapshot file list: inline ``files``, or the
    ``files_ref`` parquet sidecar (round 16 — big lists live beside
    the log, the JSON keeps an O(1) pointer). None for appends."""
    if "files" in m:
        return [_local(p) for p in m["files"]]
    ref = m.get("files_ref")
    if ref is None:
        return None
    d = _local(ref["path"])
    if not os.path.isdir(d):
        raise ValueError(f"manifest file-list sidecar missing: {ref['path']}")
    return _py_file_list(d)


def _py_resolve_files(table_path: str, version: int) -> list[str]:
    """Python twin of `sources/versioned._resolve_files` (the
    DataSource runs in workers without a JVM session): a version's
    full file list via the checkpoint-or-full-manifest walk, local
    paths."""
    adds: list[str] = []
    v = version
    while True:
        # parquet checkpoint first (round 16 — the write format),
        # legacy JSON second; pyarrow's dataset reader skips the
        # _-prefixed Spark marker files by default
        ckpq = os.path.join(
            _local(table_path), LOG_DIR, f"ckpt-{v:08d}.parquet"
        )
        if os.path.isdir(ckpq):
            return sorted(set(_py_file_list(ckpq)).union(adds))
        ckpt = os.path.join(_local(table_path), LOG_DIR, f"_ckpt-{v:08d}.json")
        if os.path.exists(ckpt):
            with open(ckpt) as f:
                return sorted({_local(p) for p in json.load(f)["files"]}.union(adds))
        m = _py_read_manifest(table_path, v)
        mf = _py_manifest_files(m)
        if mf is not None:
            return sorted(set(mf).union(adds))
        adds.extend(_local(p) for p in m["add"])
        v = m["parent"]


def _py_dv_map(m: dict) -> dict[str, set[int]]:
    """A manifest's cumulative deletion vectors as
    {local data file path -> deleted row positions} (empty when the
    manifest carries no ``dv`` list). Driver-side pyarrow read of the
    DV files — O(deleted rows), the same cost class as `_apply_dv`."""
    dv_files = m.get("dv") or []
    if not dv_files:
        return {}
    import pyarrow.parquet as pq

    out: dict[str, set[int]] = {}
    for dvf in dv_files:
        t = pq.read_table(_local(dvf))
        for f, ri in zip(
            t.column("file").to_pylist(), t.column("row_index").to_pylist()
        ):
            out.setdefault(_local(manifest_path(f)), set()).add(int(ri))
    return out


def _py_convert_pv(s, dtype):
    """A hive partition-value string as the schema's Python type."""
    if s is None:
        return None
    t = dtype.typeName()
    if t in ("integer", "long", "short", "byte"):
        return int(s)
    if t in ("double", "float"):
        return float(s)
    if t == "boolean":
        return s == "true"
    if t == "date":
        import datetime

        return datetime.date.fromisoformat(s)
    if t in ("timestamp", "timestamp_ntz"):
        import datetime

        ts = datetime.datetime.fromisoformat(s)
        # a TIMESTAMP path value is written in the session time zone,
        # which the engine pins to UTC; a naive value would be read as
        # the worker host's local time
        return ts.replace(tzinfo=datetime.timezone.utc) if t == "timestamp" else ts
    if t.startswith("decimal"):
        from decimal import Decimal

        return Decimal(s)
    return s


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        columns: list[str],
        change_type: str | None = None,
        version: int | None = None,
        row_indices: list[int] | None = None,
        skip_row_indices: list[int] | None = None,
        partition_values: dict | None = None,
        column_map: dict | None = None,
    ) -> None:
        self.path = path
        self.columns = columns
        # hive-path partition values for this file (partitioned tables'
        # data files do not store the partition columns — round 13)
        self.partition_values = partition_values
        # logical -> physical in-file names (metadata renames) — files
        # always store the stable physical names (round 13)
        self.column_map = column_map
        # non-None only in change-feed mode: every row of this file
        # reads as one change of this type at this commit version
        self.change_type = change_type
        self.version = version
        # non-None only for deletion-vector versions: read ONLY these
        # row positions of the file (they are the deleted rows)
        self.row_indices = row_indices
        # non-None only in the file-diff fallback when the file's
        # manifest carried deletion vectors: SKIP these positions (the
        # DV already removed them logically, so a whole-file
        # retract/insert must not count them — round-12 advisory fix:
        # retract-apply == snapshot through MoR-delete + CoW-rewrite
        # sequences and DV-carrying restores)
        self.skip_row_indices = skip_row_indices


class VersionedTableStreamSource(DataSource):
    """``format("versioned_table")``: incremental appends as a stream."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def _cdf(self) -> bool:
        return self.options.get("readChangeFeed", "false").lower() == "true"

    def schema(self):
        from pyspark.sql.types import LongType, StringType, StructType

        path = self.options.get("path")
        if not path:
            raise ValueError("versioned_table needs option 'path'")
        latest = _py_latest_visible(path)
        if latest is None:
            raise ValueError(f"not a versioned table (no log): {path}")
        m = _py_read_manifest(path, latest)
        if "schema" not in m:
            raise ValueError(
                "latest manifest records no schema (pre-r9 table) — pass an "
                "explicit .schema(...)"
            )
        schema = StructType.fromJson(json.loads(m["schema"]))
        if self._cdf():
            schema = schema.add("_change_type", StringType()).add(
                "_commit_version", LongType()
            )
        return schema

    def streamReader(self, schema) -> "VersionedTableStreamReader":
        path = self.options.get("path")
        if not path:
            raise ValueError("versioned_table needs option 'path'")
        starting = self.options.get("startingVersion")
        starting_ts = self.options.get("startingTimestamp")
        if starting is not None and starting_ts is not None:
            raise ValueError(
                "pass startingVersion OR startingTimestamp, not both"
            )
        if starting_ts is not None:
            # Delta's startingTimestamp is INCLUSIVE: changes committed
            # AT or after the stamp are read — so only versions stamped
            # STRICTLY BEFORE the timestamp are already consumed
            # (round-13 advisory fix: <= silently skipped a commit
            # stamped exactly at the given timestamp). Largest visible
            # version stamped < ts (no monotonicity assumed), or -1
            # when the table is younger than the stamp (stream its
            # whole history).
            ts = int(starting_ts)
            best = -1
            for v in _py_list_versions(path):
                m = _py_read_manifest(path, v)
                if _py_visible(m) and int(m.get("ts_ms", 0)) < ts:
                    best = v
            starting = best
        pf = self.options.get("partitionFilter")
        partition_filter = json.loads(pf) if pf else None
        mft = self.options.get("maxFilesPerTrigger")
        mbt = self.options.get("maxBytesPerTrigger")
        if mft is not None and int(mft) < 1:
            raise ValueError("maxFilesPerTrigger must be >= 1")
        if mbt is not None and int(mbt) < 1:
            raise ValueError("maxBytesPerTrigger must be >= 1")
        def _flag(name: str) -> bool:
            return self.options.get(name, "false").lower() == "true"

        return VersionedTableStreamReader(
            path, schema, int(starting if starting is not None else -1),
            self._cdf(), partition_filter,
            max_files=int(mft) if mft is not None else None,
            max_bytes=int(mbt) if mbt is not None else None,
            ignore_deletes=_flag("ignoreDeletes"),
            skip_change_commits=_flag("skipChangeCommits"),
            available_now=_flag("availableNow"),
        )


class VersionedTableStreamReader(DataSourceStreamReader):
    def __init__(
        self,
        table_path: str,
        schema,
        starting_version: int,
        cdf: bool = False,
        partition_filter: dict | None = None,
        max_files: int | None = None,
        max_bytes: int | None = None,
        ignore_deletes: bool = False,
        skip_change_commits: bool = False,
        available_now: bool = False,
    ) -> None:
        self._path = table_path
        self._schema = schema
        self._start = starting_version
        self._cdf = cdf
        # Delta's append-only-stream escape hatches (round 13):
        # ignoreDeletes tolerates DELETE commits (their retractions are
        # silently skipped — the caller accepts an at-least-once view of
        # deleted rows); skipChangeCommits skips ANY rewrite commit
        # (update/merge/restore), streaming only appended data. Without
        # either, a rewrite still fails the plain stream loudly.
        self._ignore_deletes = ignore_deletes
        self._skip_change_commits = skip_change_commits
        # option("partitionFilter", '{"col": "value"}') — round 13:
        # skip whole files by their hive-path partition values BEFORE
        # any read, the streaming twin of read_table(partition_filter=)
        self._pfilter = partition_filter
        # Rate limiting (round 13 — Delta's maxFilesPerTrigger /
        # maxBytesPerTrigger): cap each micro-batch's admission so a
        # backfill of a 100 TB table streams as many bounded batches
        # instead of one giant one. Offsets gain file granularity:
        # {"version": v} = v fully consumed (the unlimited/legacy
        # form, so old checkpoints restore unchanged); {"version": v,
        # "files": k} = the first k admitted files of v consumed.
        # Only create/append versions split (their file lists are
        # manifest-ordered, hence replay-deterministic); rewrite/CDF-
        # synthetic versions admit atomically — splitting a
        # reconstructed retract/insert set across batches would let a
        # crash surface half a logical change. Limits are soft caps
        # admitting at least one unit per batch (Delta's contract).
        self._max_files = max_files
        self._max_bytes = max_bytes
        # Trigger.AvailableNow support (round 14 — Delta's catch-up-
        # then-stop backfill trigger, r13 verdict ask #7). Spark's
        # available-now machinery for Python sources calls latestOffset
        # ONCE up front to capture the drain TARGET, then terminates
        # the query when the batch reaches it. Under rate limits our
        # latestOffset answers with the next BOUNDED batch end —
        # correct per-batch pacing, but as the captured target it
        # would stop the drain after one batch (verified empirically).
        # The ``availableNow`` option disambiguates the two roles: the
        # FIRST call reports the full catch-up target (latest visible
        # version at query start, respecting the pending-txn barrier),
        # and every later call paces bounded batches toward — never
        # past — that frozen target, so appends landing after query
        # start wait for the next run, exactly Delta's AvailableNow
        # contract. Composition notes (honest, measured): with
        # .trigger(availableNow=True) Spark calls latestOffset ONCE and
        # plans ONE batch to the captured target — rate limits do not
        # split that batch (memory stays bounded anyway: the batch
        # reads as one InputPartition per file). Under a
        # processing-time trigger the FIRST batch likewise spans the
        # whole frozen target (its end is the capture call's answer);
        # the paced-toward-target branch serves manual protocol
        # drains (a driver loop calling latestOffset/partitions
        # directly — pinned in tests), not the engine's trigger
        # pacing. For a rate-limited engine-paced backfill, run a
        # plain processing-time stream WITHOUT availableNow and stop
        # it when lastProgress catches up to the start-time tip.
        self._available_now = available_now
        self._an_target: dict | None = None
        self._pos: dict = {"version": starting_version}
        # start-time COLUMN MAP, captured with the start-time schema
        # (round 16, r15 advisory fix): the stale-widening check must
        # compare types by stable PHYSICAL name, or a rename between
        # stream start and a widening (rename a->b, widen b) hides the
        # widening — the renamed column misses a name-keyed map and the
        # stream silently keeps its narrow start-time type.
        latest = _py_latest_visible(table_path)
        self._start_cmap: dict = (
            dict(_py_read_manifest(table_path, latest).get("column_map") or {})
            if latest is not None
            else {}
        )

    @staticmethod
    def _off_key(off: dict) -> tuple[int, float]:
        # total order over offsets: "files" absent = version fully
        # consumed, which sorts AFTER any partial consumption of it
        return (int(off["version"]), off.get("files", float("inf")))

    def _fast_forward(self, off: dict) -> None:
        if self._off_key(off) > self._off_key(self._pos):
            self._pos = dict(off)

    def initialOffset(self) -> dict:
        # versions <= startingVersion are considered already consumed;
        # the default -1 streams the table's entire history first
        return {"version": self._start}

    def _refuse_stale_widening(self, v: int, m: dict) -> None:
        """TYPE WIDENING invalidates the start-time reader schema for
        NEW data (round 15, r14 advisory fix): unlike add/drop/rename —
        transparent because physical names are stable and the
        projection is onto the START-time schema — appends after a
        widening may carry values outside the narrower start-time
        type's range, which would fail or mangle deep in the partition
        read/serializer. Surface an explicit restart request instead
        (Delta's streaming behavior on non-additive schema changes).
        A stream started AT or AFTER the widening sees no mismatch
        (its start-time schema already carries the wide type) and
        skips the commit as metadata-only, as before.

        Both schemas compare through their COLUMN MAPS to stable
        physical names (round 16, r15 advisory fix): by logical name
        alone, a rename between stream start and the widening (rename
        a->b, then widen b) made the widened column miss the start-time
        map entirely — the stream silently kept its narrow start-time
        type and post-widening appends could mangle out-of-range
        values. Physical names are stable for a column's lifetime, so
        the comparison also never FALSELY refuses a drop-then-re-add of
        the same logical name (different physical => no pairing)."""
        from pyspark.sql.types import StructType as _St

        committed = _St.fromJson(json.loads(m["schema"]))
        cmap_now = m.get("column_map") or {}
        start_types = {
            self._start_cmap.get(f.name, f.name): f.dataType
            for f in self._schema.fields
        }
        changed = [
            f.name
            for f in committed.fields
            if start_types.get(cmap_now.get(f.name, f.name))
            not in (None, f.dataType)
        ]
        if changed:
            raise RuntimeError(
                f"schema changed: version {v} widened column(s) "
                f"{changed} past this stream's start-time schema — "
                "restart the stream to pick up the new schema"
            )

    def _version_units(self, v: int, m: dict):
        """Classify version ``v`` for admission control: ``("skip",
        None)`` for data-neutral commits, ``("files", paths)`` for
        splittable create/append file lists, ``("atomic", n_units)``
        for versions that must admit whole."""
        if m["op"] == "fsck":
            # rows lost OUT-OF-BAND cannot be replayed in either mode:
            # the retraction rows live in files that no longer exist
            # (round 15). Explicit refusal beats a FileNotFound deep in
            # a partition read. A SIDECAR-ONLY repair (fsck_removed
            # empty — e.g. a lost bloom sidecar shed) removed zero data
            # files and zero rows, so it is a metadata-class commit:
            # skip it instead of killing every live stream (round 16,
            # r15 advisory fix).
            if m.get("fsck_removed"):
                raise RuntimeError(
                    f"version {v} is an FSCK repair — its removed rows' "
                    "files are gone and cannot be replayed; restart the "
                    "stream at or after this version"
                )
            return "skip", None
        if m["op"] == "alter_column_type":
            self._refuse_stale_widening(v, m)
            return "skip", None
        if m["op"] in (
            "analyze", "drop_column", "rename_column", "add_column",
            "set_default", "drop_default",
        ):
            return "skip", None
        if m["op"] == "optimize":
            # compaction is data-neutral in BOTH modes (same logical
            # rows; processing its file diff would double-emit)
            return "skip", None
        if m["op"] in ("create", "convert"):
            # an in-place conversion's v0 is exactly a create whose
            # files pre-existed the log (round 15); sidecar-backed
            # lists inflate via pyarrow (round 16)
            return "files", _py_manifest_files(m)
        if m["op"] == "append":
            return "files", self._added_files(v, m)
        if not self._cdf and (
            self._skip_change_commits
            or (self._ignore_deletes and m["op"] == "delete")
        ):
            return "skip", None
        # rewrites: plain mode raises in partitions(); CDF mode emits
        # a synthetic change set — atomic either way. Cost = a cheap
        # upper bound on touched files (soft limit, never exact).
        cost = len(m.get("changes", ())) or len(m.get("dv_add", ())) or 1
        return "atomic", cost

    def latestOffset(self) -> dict:
        if self._available_now:
            pos_v = int(self._pos["version"])
            if self._an_target is None:
                # the capture call: freeze the drain target at the
                # latest VISIBLE version. Invisible (pending-txn)
                # manifests can only exist ABOVE it — a pending txn
                # holds its version slot exclusively, so nothing ever
                # commits past one — which makes the visible tail the
                # exact barrier-respecting target with ONE tail read,
                # no forward walk over (possibly vacuumed) history
                # (r14 review fix: the walk crashed on tables whose
                # early manifests were vacuumed, and cost O(versions)
                # per capture).
                tip = _py_latest_visible(self._path)
                self._an_target = {
                    "version": pos_v if tip is None else max(tip, pos_v)
                }
                return dict(self._an_target)
            if self._max_files is None and self._max_bytes is None:
                return dict(self._an_target)
            end = self._paced_offset(cap=int(self._an_target["version"]))
            return end
        latest = _py_latest_visible(self._path)
        if latest is None:
            return dict(self._pos)
        if self._max_files is None and self._max_bytes is None:
            return {"version": latest}
        return self._paced_offset(cap=None)

    def _paced_offset(self, cap: int | None) -> dict:
        latest = _py_latest_visible(self._path)
        if latest is None:
            return dict(self._pos)
        if cap is not None:
            latest = min(latest, cap)
        # admission-controlled advance from the last planned offset
        # (fast-forwarded by partitions()/commit() after a restart, so
        # a stale in-memory position can lag but never regress a
        # checkpointed batch — partitions() treats end <= start as
        # empty and the next trigger catches up)
        import os

        pos_v = int(self._pos["version"])
        pos_k = self._pos.get("files")
        files_left = self._max_files if self._max_files is not None else float("inf")
        bytes_left = self._max_bytes if self._max_bytes is not None else float("inf")
        end: dict = dict(self._pos)
        admitted = 0
        v = pos_v if pos_k is not None else pos_v + 1
        while v <= latest and files_left > 0 and bytes_left > 0:
            m = _py_read_manifest(self._path, v)
            if not _py_visible(m):
                break  # pending cross-table txn: a BARRIER, not a skip —
                # advancing past it would lose its rows if it commits
            kind, units = self._version_units(v, m)
            if kind == "skip":
                end = {"version": v}
                v += 1
                continue
            if kind == "atomic":
                if admitted:
                    break  # next batch starts at this version
                end = {"version": v}
                v += 1
                break  # one atomic rewrite per limited batch
            skip = pos_k if (v == pos_v and pos_k is not None) else 0
            took = skip
            for f in units[skip:]:
                if files_left <= 0 or bytes_left <= 0:
                    break
                try:
                    sz = os.path.getsize(f)
                except OSError:
                    sz = 0
                files_left -= 1
                bytes_left -= sz
                took += 1
                admitted += 1
            if took >= len(units):
                end = {"version": v}
            else:
                end = {"version": v, "files": took}
                break
            v += 1
        self._fast_forward(end)
        return dict(end)

    def _added_files(self, v: int, m: dict) -> list[str]:
        if "add" in m:
            return [_local(f) for f in m["add"]]
        # pre-round-9 append manifest: full "files" list, no "add" —
        # recover the added set as a local-path diff against the parent
        # snapshot (round-10 advisory fix, same contract as
        # cdf.table_appends)
        parent = set(_py_resolve_files(self._path, v - 1))
        return [f for f in _py_resolve_files(self._path, v) if f not in parent]

    def partitions(self, start: dict, end: dict) -> list[_FilePartition]:
        self._fast_forward(end)  # restart: never re-advance behind a
        # checkpointed batch the scheduler already planned
        if self._off_key(end) <= self._off_key(start):
            return []
        cols = [f.name for f in self._schema.fields]
        if self._cdf:
            cols = cols[:-2]  # _change_type/_commit_version are synthesized
        parts: list[_FilePartition] = []
        want = {
            c: filter_str(w) for c, w in (self._pfilter or {}).items()
        }
        vstart = 0
        lo, lo_k = int(start["version"]), start.get("files")
        hi, hi_k = int(end["version"]), end.get("files")

        def _stamp(m: dict) -> None:
            """Stamp this version's new parts with their hive partition
            values + column map, and apply the partitionFilter by PATH
            (files of non-matching partitions never open — round 13).
            Row-carried change files (_FROM_FILE) are not
            path-addressable; read() filters their rows instead."""
            pby = m.get("partition_by") or []
            cmap = m.get("column_map") or {}
            fresh = parts[vstart:]
            del parts[vstart:]
            for p in fresh:
                p.column_map = cmap
                if pby and p.change_type != _FROM_FILE:
                    p.partition_values = partition_values(p.path, pby)
                    if want and not all(
                        p.partition_values.get(c) == w for c, w in want.items()
                    ):
                        continue  # pruned whole file
                parts.append(p)

        for v in range(lo if lo_k is not None else lo + 1, hi + 1):
            m = _py_read_manifest(self._path, v)
            vstart = len(parts)  # stamp this version's parts at loop end
            if m["op"] == "fsck":
                # sidecar-only repairs (empty fsck_removed) shed no
                # data files and no rows — metadata-class, skip like
                # any column-DDL commit (round 16, r15 advisory fix)
                if m.get("fsck_removed"):
                    raise RuntimeError(
                        f"version {v} is an FSCK repair — its removed "
                        "rows' files are gone and cannot be replayed; "
                        "restart the stream at or after this version"
                    )
                continue
            if m["op"] == "alter_column_type":
                # widening past the start-time schema must refuse here
                # too — the unpaced path plans partitions without ever
                # consulting _version_units (round 15, r14 advisory fix)
                self._refuse_stale_widening(v, m)
                continue
            if m["op"] in (
                "analyze", "drop_column", "rename_column", "add_column",
                "set_default", "drop_default",
            ):
                continue  # metadata-only: no data change (column DDL is
                # manifest-only since round 13; the reader keeps its
                # start-time schema — physical names are stable, so
                # files keep reading; restart the stream to adopt a
                # renamed/added logical schema, Delta's contract)
            if m["op"] == "optimize":
                continue  # compaction is data-neutral in BOTH modes (same
                # logical rows, new layout — Delta streams past
                # dataChange=false commits; round 13 extended the skip to
                # the plain stream, which previously refused OPTIMIZE)
            if m["op"] in ("create", "convert", "append"):
                files = (
                    _py_manifest_files(m)
                    if m["op"] in ("create", "convert")
                    else self._added_files(v, m)
                )
                # rate-limited boundary versions consume a manifest-
                # ordered PREFIX of the file list; slice to this
                # batch's window (full versions slice [0:None])
                a = lo_k if (v == lo and lo_k is not None) else 0
                b = hi_k if (v == hi and hi_k is not None) else None
                files = files[a:b]
            elif self._cdf:
                if "changes" not in m and "dv_add" in m:
                    # merge-on-read DELETE (round 11): no file changed —
                    # the file diff would emit NOTHING. The version's
                    # own DV files name exactly the deleted (file,
                    # row_index) positions; emit those rows as
                    # retractions, one partition per touched data file.
                    import pyarrow.parquet as pq

                    by_file: dict[str, list[int]] = {}
                    for dvf in m["dv_add"]:
                        t = pq.read_table(_local(dvf))
                        for f, ri in zip(
                            t.column("file").to_pylist(),
                            t.column("row_index").to_pylist(),
                        ):
                            by_file.setdefault(
                                _local(manifest_path(f)), []
                            ).append(int(ri))
                    parts.extend(
                        _FilePartition(
                            f, cols, "delete", v, row_indices=sorted(ris)
                        )
                        for f, ris in sorted(by_file.items())
                    )
                    _stamp(m)
                    continue
                if "changes" in m:
                    # round 11 — ROW-LEVEL precision: the rewrite
                    # committed its exact change set as change files
                    # (writer opted in via change_data=True, the Delta
                    # enableChangeDataFeed path). Each row carries its
                    # own _change_type, so a MERGE touching 1 row in a
                    # 1-GB file streams 2 rows, not the file-diff's
                    # O(rewritten files). Part of the immutable
                    # manifest => replay-deterministic.
                    parts.extend(
                        _FilePartition(_local(f), cols, _FROM_FILE, v)
                        for f in sorted(m["changes"])
                    )
                    _stamp(m)
                    continue
                # history rewrite without change files: reconstruct
                # the change set from the file diff — rows of files
                # the rewrite dropped are retractions, rows of files
                # it introduced are insertions (module docstring: the
                # Delta add/remove CDC reconstruction; retract-apply
                # == snapshot). Deletion vectors make "a file's rows"
                # differ from its physical contents: a dropped file
                # whose PARENT manifest carried DV positions has those
                # rows already retracted (the dv_add branch emitted
                # them at the MoR-delete version), and an added file
                # whose NEW manifest carries DV positions (a restore
                # to a DV-bearing version) has them logically absent —
                # both sides subtract their manifest's DV so
                # retract-apply == snapshot holds (round-12 advisory
                # fix). Files present in BOTH lists with differing DVs
                # (restore across a MoR delete) emit exactly the DV
                # delta: newly-deleted positions retract,
                # no-longer-deleted positions re-insert.
                old = set(_py_resolve_files(self._path, v - 1))
                new = set(_py_resolve_files(self._path, v))
                old_dv = _py_dv_map(_py_read_manifest(self._path, v - 1))
                new_dv = _py_dv_map(m)
                for f in sorted(old - new):
                    skip = sorted(old_dv.get(f, ()))
                    parts.append(
                        _FilePartition(
                            f, cols, "delete", v, skip_row_indices=skip or None
                        )
                    )
                for f in sorted(new - old):
                    skip = sorted(new_dv.get(f, ()))
                    parts.append(
                        _FilePartition(
                            f, cols, "insert", v, skip_row_indices=skip or None
                        )
                    )
                for f in sorted(old & new):
                    newly_deleted = new_dv.get(f, set()) - old_dv.get(f, set())
                    resurrected = old_dv.get(f, set()) - new_dv.get(f, set())
                    if newly_deleted:
                        parts.append(
                            _FilePartition(
                                f, cols, "delete", v,
                                row_indices=sorted(newly_deleted),
                            )
                        )
                    if resurrected:
                        parts.append(
                            _FilePartition(
                                f, cols, "insert", v,
                                row_indices=sorted(resurrected),
                            )
                        )
                _stamp(m)
                continue
            elif self._skip_change_commits or (
                self._ignore_deletes and m["op"] == "delete"
            ):
                continue  # Delta's skipChangeCommits / ignoreDeletes:
                # the caller opted into an appends-only view; this
                # rewrite's changes are deliberately not streamed
            else:
                raise ValueError(
                    f"version {v} is op={m['op']!r} — the streaming source "
                    "consumes append-only tables (use option "
                    "readChangeFeed=true to stream through rewrites, "
                    "ignoreDeletes/skipChangeCommits to skip them, or "
                    "operators/cdf.table_changes for a batch range)"
                )
            change = "insert" if self._cdf else None
            parts.extend(
                _FilePartition(f, cols, change, v if self._cdf else None)
                for f in files
            )
            _stamp(m)
        return parts

    def read(self, partition: _FilePartition):
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.path)
        file_cols = set(pf.schema_arrow.names)
        cmap = partition.column_map or {}
        types = {f.name: f.dataType for f in self._schema.fields}
        # logical -> in-file physical (metadata renames; files always
        # store the stable physical names — round 13)
        src = {c: cmap.get(c, c) for c in partition.columns}
        # hive partition columns: not in the file at all — converted
        # once per partition from the path values
        pv = {
            c: _py_convert_pv(s, types[c])
            for c, s in (partition.partition_values or {}).items()
            if c in types
        }
        # TIMESTAMP (instant) columns: parquet stores the UTC instant
        # but pyarrow surfaces it tz-NAIVE; Spark's Python serializer
        # for TimestampType requires tz-aware values — localize to UTC
        # (session tz is pinned UTC). TIMESTAMP_NTZ stays naive.
        import datetime as _dt

        ts_cols = {
            c for c in partition.columns
            if c in types and types[c].typeName() == "timestamp"
        }

        def fix(c: str, v):
            if (
                c in ts_cols
                and isinstance(v, _dt.datetime)
                and v.tzinfo is None
            ):
                return v.replace(tzinfo=_dt.timezone.utc)
            return v

        def out(r: dict) -> tuple:
            return tuple(
                fix(c, pv[c] if c in pv else r.get(src[c]))
                for c in partition.columns
            )

        if partition.change_type == _FROM_FILE:
            # row-level change file: _change_type is a real column.
            # partitionFilter rows-filter here (change files carry the
            # partition columns as data; they are not path-addressable)
            want = {
                c: filter_str(w) for c, w in (self._pfilter or {}).items()
            }
            wanted = [src[c] for c in partition.columns if src[c] in file_cols]
            rows = pf.read(columns=wanted + ["_change_type"]).to_pylist()
            for r in rows:
                if want and not all(
                    filter_str(r.get(src.get(c, c))) == w
                    for c, w in want.items()
                ):
                    continue
                yield out(r) + (r["_change_type"], partition.version)
            return
        # read ONLY the declared columns the file actually has (column
        # pruning at the parquet reader, not after materialization)
        wanted = [src[c] for c in partition.columns if src[c] in file_cols]
        table = pf.read(columns=wanted)
        if partition.row_indices is not None:
            # deletion-vector partition: only the deleted positions
            table = table.take(partition.row_indices)
        elif partition.skip_row_indices is not None:
            # file-diff partition under a DV: every position EXCEPT
            # the manifest's deleted ones
            skip = set(partition.skip_row_indices)
            table = table.take(
                [i for i in range(table.num_rows) if i not in skip]
            )
        rows = table.to_pylist()
        if partition.change_type is not None:
            tail = (partition.change_type, partition.version)
            for r in rows:
                yield out(r) + tail
        else:
            for r in rows:
                # null-fill pre-evolution files' missing columns, declared order
                yield out(r)

    def commit(self, end: dict) -> None:
        # offsets derive from the immutable log — nothing to ack; but
        # fast-forward the admission cursor so a restarted reader
        # resumes rate-limited planning from the checkpointed position
        self._fast_forward(end)
