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
- **partial rewrite** (touched-files DML, partition-scoped OPTIMIZE,
  DV purge): declarations; the kept files' per-file metadata is
  carried file by file;
- **full rewrite** (overwrite, full-snapshot DML, OPTIMIZE, deep
  CLONE): declarations except ``widened`` (every file is freshly
  written at the declared types); per-file stats are recomputed from
  ``stats_cols``.

A commit then states only what its own op changes. A value that is
empty (``{}``, ``[]``, ``None``) is the same as an absent key. A new
protocol key goes into exactly one class here, never into a per-verb
list. The module is session-free.
"""

from __future__ import annotations

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
