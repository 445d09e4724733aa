"""Which manifest keys a versioned-table commit inherits from its
parent — the one rule every commit goes through.

A manifest's protocol keys fall into three classes:

- **declarations** (`DECLARATIONS`) describe the table: schema,
  constraints, generated/identity/default columns, properties,
  partitioning, the column map and its tombstones, the type-widening
  marker and the declared stats columns;
- **per-file metadata** (`FILE_METADATA`) describes individual data
  files: min/max stats, bloom bitmaps and deletion vectors, inline or
  behind a sidecar. Files are immutable, so an entry stays valid for
  as long as its file is in the snapshot;
- **the file list** (`FILE_LIST`): inline ``files`` or a ``files_ref``
  sidecar pointer. Appends record ``add`` plus ``parent`` instead.

Every commit is one of four kinds, and the kind decides what it
inherits:

- **same files** (metadata DDL, ANALYZE, merge-on-read DELETE,
  RESTORE, shallow CLONE): declarations, per-file metadata and the
  file list;
- **append**: declarations and per-file metadata;
- **touched-set rewrite** (copy-on-write DELETE/UPDATE, OPTIMIZE,
  DV purge — some files or all): declarations; the kept files'
  per-file metadata is carried file by file. ``widened`` drops when
  no file is kept (all are freshly written at the declared types);
- **full rewrite** (create, replace, overwrite, MERGE, deep CLONE,
  column DDL): declarations except ``widened``; per-file stats are
  recomputed from ``stats_cols``.

A commit then states only what its own op changes. A value that is
empty (``{}``, ``[]``, ``None``) is the same as an absent key. A new
protocol key goes into exactly one class here, never into a per-verb
list. It also names the commit log's files and holds the reader's
feature gate. The module is session-free.
"""

from __future__ import annotations

import posixpath

# Version N of a table is the manifest ``<table>/_log/NNNNNNNN.json``;
# every other entry of the log dir is a sidecar, a checkpoint or a
# temp file.
LOG_DIR = "_log"


def manifest_file(table_path: str, version: int) -> str:
    """The path of the manifest of version ``version``."""
    return posixpath.join(table_path, LOG_DIR, f"{version:08d}.json")


def manifest_version(name: str) -> int | None:
    """The version whose manifest a log-dir entry named ``name`` is, or
    None for any other entry."""
    stem = name[: -len(".json")]
    return int(stem) if name.endswith(".json") and stem.isdigit() else None


# The reader's feature gate (Delta's table-features protocol): a
# manifest that uses a feature an unaware reader would silently
# mis-read lists it under ``features`` (stamped at commit from the
# manifest's own content), and readers refuse a manifest requiring a
# feature outside this set instead of returning wrong rows — a reader
# ignoring the column map would surface physical names, one ignoring
# deletion vectors would resurrect deleted rows. Legacy manifests carry
# no field and read as ever.
SUPPORTED_FEATURES = frozenset(
    {
        "column_mapping",
        "deletion_vectors",
        "partitioning",
        "identity_columns",
        "generated_columns",
        "type_widening",
        "check_constraints",
        "column_defaults",
        "file_list_sidecar",
        "stats_sidecar",
    }
)


def require_features(m: dict, table_path: str, version: int) -> dict:
    """``m``, the manifest of ``table_path`` version ``version``, when
    this reader implements every feature it requires; raises otherwise."""
    unknown = set(m.get("features", [])) - SUPPORTED_FEATURES
    if unknown:
        raise ValueError(
            f"cannot read {table_path} v{version}: the snapshot requires "
            f"table feature(s) {sorted(unknown)} this reader does not "
            "implement — refusing rather than mis-reading (upgrade the "
            "reader; a reader without the feature would return wrong rows)"
        )
    return m

DECLARATIONS = (
    "schema",
    "constraints",
    "generated",
    "identity",
    "properties",
    "defaults",
    "partition_by",
    "column_map",
    "dropped_physical",
    "widened",
    "stats_cols",
)

# the per-file min/max stats: the part of FILE_METADATA a write
# recomputes from ``stats_cols`` for the files it adds
STATS = ("stats", "stats_ref")

FILE_METADATA = STATS + ("blooms", "blooms_ref", "dv", "dv_counts")

FILE_LIST = ("files", "files_ref")


def inherit(parent: dict, *classes: tuple[str, ...], skip=()) -> dict:
    """The non-empty keys of ``classes`` that ``parent`` carries, minus
    ``skip`` (the keys the committing op recomputes itself). Two
    manifests agree on a class exactly when their `inherit` results
    are equal."""
    return {
        k: parent[k]
        for keys in classes
        for k in keys
        if k not in skip and parent.get(k)
    }


def put(manifest: dict, key: str, value) -> None:
    """Set ``key`` to ``value``, or drop it when ``value`` is empty."""
    if value:
        manifest[key] = value
    else:
        manifest.pop(key, None)
