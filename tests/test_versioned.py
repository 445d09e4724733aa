"""Versioned-table protocol: snapshot isolation, time travel, MERGE,
OPTIMIZE content-identity, exclusive commit, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.sources.versioned import (
    create_table,
    latest_version,
    merge_upsert_table,
    optimize_table,
    overwrite_table,
    read_table,
    vacuum_table,
)


def _content(df):
    return {tuple(r) for r in df.select(sorted(df.columns)).collect()}


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, f"name{i}", i * 10) for i in range(20)], "id long, name string, score long"
    )
    assert create_table(base, path) == 0
    return path, base


def test_time_travel_reads_exact_old_snapshots(spark, table):
    path, base = table
    updates = spark.createDataFrame(
        [(3, "name3-v2", 999), (100, "name100", 0)], "id long, name string, score long"
    )
    assert merge_upsert_table(updates, path, "id") == 1
    assert optimize_table(spark, path, target_files=1) == 2
    assert latest_version(spark, path) == 2

    v0 = _content(read_table(spark, path, 0))
    assert v0 == _content(base)
    v1 = _content(read_table(spark, path, 1))
    assert (3, "name3-v2", 999) in v1 and (100, "name100", 0) in v1
    assert (3, "name3", 30) not in v1
    assert len(v1) == 21
    # OPTIMIZE changed layout, not content; default read = latest
    assert _content(read_table(spark, path, 2)) == v1
    assert _content(read_table(spark, path)) == v1


def test_old_snapshot_is_immune_to_later_writes(spark, table):
    path, base = table
    snap = read_table(spark, path, 0)  # plan bound to v0's file list
    overwrite_table(base.where(F.col("id") < 5), path)
    assert snap.count() == 20  # still the full v0, not the 5-row v1
    assert read_table(spark, path).count() == 5


def test_commit_is_exclusive_and_concurrency_checked(spark, table):
    path, base = table
    # optimistic check: a writer that read stale latest loses loudly
    from wnv_etl_lab2_spark.sources import versioned

    with pytest.raises(ValueError, match="optimistic concurrency"):
        versioned._write_version(base, path, 1, "overwrite", expect_latest=None)
    # manifest create is exclusive: committing an existing version throws
    with pytest.raises(Exception):
        versioned._commit(spark, path, 0, {"version": 0, "op": "dup", "files": ["x"]})


def test_vacuum_drops_old_versions_and_files(spark, table):
    path, base = table
    overwrite_table(base.where(F.col("id") < 10), path)
    overwrite_table(base.where(F.col("id") < 3), path)
    assert vacuum_table(spark, path, keep_last=1) == [0, 1]
    assert read_table(spark, path).count() == 3  # latest unharmed
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        read_table(spark, path, 0)
    # v0/v1 data files actually gone from disk; only v2's attempt dir
    # remains
    import glob

    remaining = glob.glob(f"{path}/data/*/")
    assert len(remaining) == 1 and "/data/v2-" in remaining[0]


def test_create_refuses_existing_and_reads_refuse_nontable(spark, tmp_path, table):
    path, base = table
    with pytest.raises(Exception):
        create_table(base, path)  # v0 manifest exists -> exclusive create throws
    with pytest.raises(ValueError, match="not a versioned table"):
        read_table(spark, str(tmp_path / "nope"))


def test_delete_commits_new_version_and_preserves_history(spark, table):
    from wnv_etl_lab2_spark.sources.versioned import delete_from_table

    path, base = table
    assert delete_from_table(spark, path, "score >= 100") == 1
    assert read_table(spark, path).count() == 10  # ids 0..9
    assert read_table(spark, path, 0).count() == 20  # history intact
    assert {r.id for r in read_table(spark, path).collect()} == set(range(10))


def test_appended_schema_evolution_reads_as_union(spark, tmp_path):
    """An append whose files carry an extra column must not lose it
    (nor crash) when the snapshot mixes old and new files: the read
    returns the union schema with nulls for pre-evolution rows."""
    from wnv_etl_lab2_spark.sources.versioned import append_table

    path = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, "a")], "id long, name string"), path
    )
    append_table(
        spark.createDataFrame([(2, "b", 7)], "id long, name string, extra long"),
        path,
    )
    got = read_table(spark, path).toPandas().sort_values("id").reset_index(drop=True)
    assert set(got.columns) == {"id", "name", "extra"}
    assert got.loc[0, "extra"] != got.loc[0, "extra"] or got.loc[0, "extra"] is None  # NaN
    assert got.loc[1, "extra"] == 7
    # v0 alone still reads with its own schema's columns populated
    v0 = read_table(spark, path, 0)
    assert v0.count() == 1


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check of the whole DML surface: a seeded random
    sequence of create/append/merge/delete (copy-on-write AND
    merge-on-read deletion vectors)/update/overwrite/optimize is
    applied both to the versioned table and to a plain in-memory dict
    model {id: v}; after EVERY op the latest snapshot must equal the
    model, and at the end every historical version must equal its
    recorded model snapshot (time travel over the full history) —
    including DV versions, whose time travel must re-apply their
    vectors."""
    import random

    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        delete_from_table,
        merge_upsert_table,
        optimize_table,
        overwrite_table,
        update_table,
    )

    rng = random.Random(42)
    path = str(tmp_path / "tbl")

    def df_of(model):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(model.items())] or [(None, None)],
            "id long, v long",
        )

    model = {i: i * 10 for i in range(8)}
    create_table(df_of(model), path)
    history = [dict(model)]

    next_id = 100
    for _ in range(14):
        op = rng.choice(
            ["append", "merge", "delete", "delete_dv", "update", "overwrite", "optimize"]
        )
        if op == "append":
            batch = {next_id + j: rng.randrange(1000) for j in range(rng.randrange(1, 4))}
            next_id += 10
            append_table(df_of(batch), path)
            model.update(batch)
        elif op == "merge":
            keys = rng.sample(sorted(model), k=min(2, len(model))) + [next_id]
            next_id += 10
            batch = {k: rng.randrange(1000) for k in keys}
            merge_upsert_table(df_of(batch), path, "id")
            model.update(batch)
        elif op in ("delete", "delete_dv"):
            cut = rng.randrange(1000)
            delete_from_table(
                spark, path, f"v < {cut}",
                mode="merge_on_read" if op == "delete_dv" else "copy_on_write",
            )
            model = {k: v for k, v in model.items() if not v < cut}
            if not model:  # refill so later ops stay meaningful
                model = {next_id: 1}
                next_id += 10
                overwrite_table(df_of(model), path)
                history.append(dict({k: v for k, v in history[-1].items() if not v < cut}))
        elif op == "update":
            cut = rng.randrange(1000)
            update_table(spark, path, {"v": "v + 3"}, f"v < {cut}")
            model = {k: (v + 3 if v < cut else v) for k, v in model.items()}
        elif op == "overwrite":
            model = {next_id + j: rng.randrange(1000) for j in range(3)}
            next_id += 10
            overwrite_table(df_of(model), path)
        else:
            optimize_table(spark, path, target_files=1)
        history.append(dict(model))
        got = {r.id: r.v for r in read_table(spark, path).collect() if r.id is not None}
        assert got == {k: v for k, v in model.items()}, f"after {op}"

    for v, snap in enumerate(history):
        got = {r.id: r.v for r in read_table(spark, path, v).collect() if r.id is not None}
        assert got == snap, f"time travel to v{v} diverged"


def test_stats_file_skipping_prunes_and_matches_full_filter(spark, tmp_path):
    """ANALYZE + read_table_pruned: on a range-clustered table the
    pruned read must (a) touch strictly fewer files than the snapshot
    lists, (b) return exactly the rows the full-scan filter returns,
    and (c) never prune files lacking stats for the column."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        collect_stats,
        read_table_pruned,
    )

    path = str(tmp_path / "tbl")
    base = (
        spark.range(1000)
        .selectExpr("id", "id % 7 AS tag")
        .repartitionByRange(8, "id")  # clustered -> tight per-file ranges
        .sortWithinPartitions("id")
    )
    create_table(base, path)
    v = collect_stats(spark, path, ["id"])
    m = _read_manifest(spark, path, v)
    assert m["op"] == "analyze" and m["stats"], "stats recorded"

    pruned = read_table_pruned(spark, path, "id", 100, 220)
    full = read_table(spark, path).where("id BETWEEN 100 AND 220")
    assert {r.id for r in pruned.collect()} == {r.id for r in full.collect()}
    n_scanned = len(pruned.inputFiles())
    assert 0 < n_scanned < len(m["files"]), (
        f"no pruning: scanned {n_scanned} of {len(m['files'])} files"
    )
    # disjoint range -> empty result, consistent schema
    assert read_table_pruned(spark, path, "id", 5000, 6000).count() == 0
    # a column without recorded stats prunes nothing but stays correct
    got = read_table_pruned(spark, path, "tag", 2, 3)
    assert got.count() == base.where("tag BETWEEN 2 AND 3").count()


def test_delete_keeps_null_condition_rows(spark, tmp_path):
    """SQL DELETE semantics: rows where the condition evaluates to
    NULL are KEPT, not silently dropped (deleting 'score >= 100' must
    not remove a row whose score is NULL)."""
    from wnv_etl_lab2_spark.sources.versioned import delete_from_table

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, 50), (2, 150), (3, None)], "id long, score long"
    )
    create_table(df, path)
    delete_from_table(spark, path, "score >= 100")
    got = {(r.id, r.score) for r in read_table(spark, path).collect()}
    assert got == {(1, 50), (3, None)}  # NULL-score row survives


def test_commit_is_tmp_plus_rename_and_never_wedges(spark, tmp_path, table):
    """The manifest commit is temp-write + fail-if-exists rename: a
    losing commit raises, leaves NO temp litter in _log, and a
    leftover temp file from a crashed writer is invisible to version
    listing and reads (no truncated manifest can squat on a version
    number)."""
    import glob
    import os

    from wnv_etl_lab2_spark.sources import versioned

    path, base = table
    with pytest.raises(Exception):
        versioned._commit(spark, path, 0, {"version": 0, "op": "dup", "files": ["x"]})
    assert glob.glob(f"{path}/_log/.tmp-*") == []  # loser cleaned up
    assert read_table(spark, path).count() == 20
    # simulate a writer that died mid-content-write: only a temp file
    with open(os.path.join(path, "_log", ".tmp-00000001-deadbeef"), "w") as f:
        f.write('{"version": 1, "op":')  # truncated JSON
    assert versioned._list_versions(spark, path) == [0]
    assert latest_version(spark, path) == 0
    assert read_table(spark, path).count() == 20  # table not wedged


def test_append_schema_evolution_additive_and_rejects_type_change(spark, tmp_path):
    """Write-path schema evolution: an append may ADD columns (the
    manifest records the evolved union schema; pre-evolution files
    read as null for them, old snapshots stay byte-stable), but a type
    change on an existing column raises BEFORE any data is written."""
    import glob

    from wnv_etl_lab2_spark.sources.versioned import append_table, table_schema

    path = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"), path
    )
    v0_before = _content(read_table(spark, path, 0))
    append_table(
        spark.createDataFrame([(3, "c", 0.5)], "id long, name string, quality double"),
        path,
    )
    evolved = table_schema(spark, path)
    assert [f.name for f in evolved.fields] == ["id", "name", "quality"]
    got = {
        (r.id, r.name, r.quality)
        for r in read_table(spark, path).collect()
    }
    assert got == {(1, "a", None), (2, "b", None), (3, "c", 0.5)}  # null backfill
    assert _content(read_table(spark, path, 0)) == v0_before  # history byte-stable
    assert [f.name for f in table_schema(spark, path, 0).fields] == ["id", "name"]
    # type conflict: rejected loudly, nothing written, version unchanged
    attempts_before = set(glob.glob(f"{path}/data/*"))
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        append_table(
            spark.createDataFrame([("x", "d")], "id string, name string"), path
        )
    assert latest_version(spark, path) == 1
    assert set(glob.glob(f"{path}/data/*")) == attempts_before  # checked pre-write


def test_manifest_paths_fully_qualified_and_legacy_scheme_less_still_work(
    spark, tmp_path, table
):
    """Manifests record fully-qualified URIs (scheme kept, so the
    protocol survives a non-default filesystem); legacy scheme-less
    manifests written before round 9 still read, and vacuum's
    reference count treats both spellings as the same file — data
    files, deletion vectors and change-data files alike."""
    import json as _json
    import os

    from wnv_etl_lab2_spark.sources import versioned

    path, base = table
    m = versioned._read_manifest(spark, path, 0)
    assert all(f.startswith("file:/") for f in m["files"])
    assert read_table(spark, path).count() == 20

    def legacy(v):
        """Rewrite manifest ``v`` in the legacy scheme-less form."""
        mpath = os.path.join(path, "_log", f"{v:08d}.json")
        mv = _json.load(open(mpath))
        for key in ("files", "dv", "changes"):
            if key in mv:
                mv[key] = [f.removeprefix("file:") for f in mv[key]]
        with open(mpath, "w") as f:
            _json.dump(mv, f)
        crc = os.path.join(path, "_log", f".{v:08d}.json.crc")
        if os.path.exists(crc):  # ChecksumFileSystem sidecar from the commit
            os.remove(crc)
        return mv

    # v1, qualified, then legacy; several files so later DML touches some
    overwrite_table(base.where(F.col("id") < 5).repartition(5, "id"), path)
    legacy(1)
    assert read_table(spark, path).count() == 5  # legacy form reads
    # v2: a change-data UPDATE; v3: a merge-on-read DELETE (a DV)
    versioned.update_table(
        spark, path, {"score": "score + 1"}, "id = 1", change_data=True
    )
    versioned.delete_from_table(spark, path, "id = 0", mode="merge_on_read")
    m2, m3 = legacy(2), legacy(3)
    assert m2["changes"] and m3["dv"]
    # vacuum must NOT delete the files, DVs or change files the
    # legacy-form manifests keep
    vacuum_table(spark, path, keep_last=2)
    assert sorted(r.id for r in read_table(spark, path).collect()) == [1, 2, 3, 4]
    for f in m2["changes"] + m3["dv"] + m3["files"]:
        assert os.path.exists(f), f
    vacuum_table(spark, path, keep_last=1)
    assert sorted(r.id for r in read_table(spark, path).collect()) == [1, 2, 3, 4]
    assert all(os.path.exists(f) for f in m3["dv"] + m3["files"])
    assert not any(os.path.exists(f) for f in m2["changes"])


def test_optimize_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """OPTIMIZE ZORDER BY (x, y): the rewritten snapshot is
    content-identical, and after ANALYZE a narrow predicate on EITHER
    clustered column skips files — the multi-dimensional layout
    property a linear sort can only give its first key."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        collect_stats,
        optimize_table,
        read_table_pruned,
    )

    path = str(tmp_path / "tbl")
    # x and y independent, so a linear sort on x leaves y unclustered
    base = spark.range(4000).selectExpr(
        "id", "id % 61 AS x", "CAST(pmod(id * 2654435761, 61) AS BIGINT) AS y"
    )
    create_table(base, path)
    before = _content(read_table(spark, path))
    v = optimize_table(spark, path, target_files=16, zorder_by=("x", "y"))
    assert _content(read_table(spark, path, v)) == before  # content-identical
    va = collect_stats(spark, path, ["x", "y"])
    m = _read_manifest(spark, path, va)
    n_files = len(m["files"])
    assert n_files >= 8
    for col in ("x", "y"):
        pruned = read_table_pruned(spark, path, col, 5, 12)
        full = read_table(spark, path).where(f"{col} BETWEEN 5 AND 12")
        assert {r.id for r in pruned.collect()} == {r.id for r in full.collect()}
        n_scanned = len(pruned.inputFiles())
        assert 0 < n_scanned <= n_files // 2, (
            f"zorder pruning on {col}: scanned {n_scanned} of {n_files}"
        )


def test_append_chain_checkpoints_bound_resolution_and_survive_vacuum(
    spark, tmp_path
):
    """Log-structured appends (r9): a 23-append chain stays O(batch)
    per manifest, auto-checkpoints land every CHECKPOINT_EVERY
    versions, readers resolve through the NEWEST checkpoint at-or-below
    their version (bounded walk), and vacuum's checkpoint at the
    oldest kept version keeps every kept snapshot readable after its
    ancestors' manifests are dropped."""
    import glob
    import os

    from wnv_etl_lab2_spark.sources import versioned
    from wnv_etl_lab2_spark.sources.versioned import append_table

    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(0, 0)], "id long, v long"), tbl)
    for i in range(1, 24):
        append_table(spark.createDataFrame([(i, i)], "id long, v long"), tbl)
    # every append manifest is O(batch): one added file list, no full list
    for v in range(1, 24):
        m = versioned._read_manifest(spark, tbl, v)
        assert "files" not in m and m["parent"] == v - 1
        assert len(m["add"]) >= 1
    # auto-checkpoints at 10 and 20 (parquet directories since r16)
    cks = sorted(
        int(os.path.basename(p)[len("ckpt-"):-len(".parquet")])
        for p in glob.glob(f"{tbl}/_log/ckpt-*.parquet")
    )
    assert cks == [10, 20]
    # resolution correct at every version (count == version+1 rows)
    for v in (0, 5, 10, 15, 20, 23):
        assert read_table(spark, tbl, v).count() == v + 1
    # vacuum to the last 4: the oldest kept version (20) gets a
    # checkpoint, dropped versions' manifests and checkpoints go away,
    # and every kept version still reads correctly
    dropped = vacuum_table(spark, tbl, keep_last=4)
    assert dropped == list(range(20))
    assert not os.path.exists(f"{tbl}/_log/ckpt-{10:08d}.parquet")
    for v in (20, 21, 22, 23):
        assert read_table(spark, tbl, v).count() == v + 1
    with pytest.raises(ValueError):
        read_table(spark, tbl, 5)


# ---- CHECK constraints (round 11) ------------------------------------


def test_check_constraint_lifecycle_and_enforcement(spark, tmp_path):
    """Delta CHECK-constraint parity: add validates the existing
    snapshot, every write path enforces during its own write action
    (violating writes commit NOTHING), NULL passes (SQL semantics),
    constraints ride the manifest across rewrites/metadata versions
    and are time-travelable, and drop lifts enforcement."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        append_table,
        create_table,
        delete_from_table,
        drop_check_constraint,
        latest_version,
        merge_upsert_table,
        optimize_table,
        read_table,
        table_constraints,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, 10), (2, 20), (3, None)], "id long, v long"), tbl
    )
    # adding a constraint the snapshot violates is rejected
    with pytest.raises(ValueError, match="existing rows violate"):
        add_check_constraint(spark, tbl, "v_big", "v >= 15")
    # NULL passes (SQL CHECK semantics): row id=3 does not violate v >= 0
    assert add_check_constraint(spark, tbl, "v_nonneg", "v >= 0") == 1
    assert table_constraints(spark, tbl) == {"v_nonneg": "v >= 0"}
    with pytest.raises(ValueError, match="already exists"):
        add_check_constraint(spark, tbl, "v_nonneg", "v >= 1")

    # violating append commits NOTHING: version unchanged, rows unchanged
    v_before = latest_version(spark, tbl)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        append_table(spark.createDataFrame([(4, -5)], "id long, v long"), tbl)
    assert latest_version(spark, tbl) == v_before
    assert read_table(spark, tbl).count() == 3
    # valid append (including a NULL) passes and carries the set forward
    append_table(spark.createDataFrame([(4, 40), (5, None)], "id long, v long"), tbl)
    assert table_constraints(spark, tbl) == {"v_nonneg": "v >= 0"}

    # merge: violating update refused, valid one lands with the set kept
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        merge_upsert_table(
            spark.createDataFrame([(1, -1)], "id long, v long"), tbl, key="id"
        )
    merge_upsert_table(
        spark.createDataFrame([(1, 11)], "id long, v long"), tbl, key="id"
    )
    assert table_constraints(spark, tbl) == {"v_nonneg": "v >= 0"}
    # delete + optimize keep it too (full-rewrite ops re-stamp the set)
    delete_from_table(spark, tbl, "id = 5")
    optimize_table(spark, tbl, target_files=1)
    assert table_constraints(spark, tbl) == {"v_nonneg": "v >= 0"}

    # time travel: version 0 predates the constraint
    assert table_constraints(spark, tbl, 0) == {}

    # drop lifts enforcement; unknown names fail loudly
    with pytest.raises(ValueError, match="no such constraint"):
        drop_check_constraint(spark, tbl, "nope")
    drop_check_constraint(spark, tbl, "v_nonneg")
    assert table_constraints(spark, tbl) == {}
    append_table(spark.createDataFrame([(9, -9)], "id long, v long"), tbl)
    assert {r.v for r in read_table(spark, tbl).where(F.col("id") == 9).collect()} == {-9}


def test_check_constraint_blocks_whole_transaction(spark, tmp_path):
    """A violating write inside a cross-table transaction aborts the
    WHOLE transaction at stage time: neither table advances."""
    import pytest

    from wnv_etl_lab2_spark.sources.transactions import TxnWrite, commit_transaction
    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        create_table,
        latest_version,
        read_table,
    )

    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(spark.createDataFrame([(1, 10)], "id long, v long"), a)
    create_table(spark.createDataFrame([(1, 10)], "id long, v long"), b)
    add_check_constraint(spark, b, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(spark.createDataFrame([(2, 20)], "id long, v long"), a, "append"),
                TxnWrite(spark.createDataFrame([(2, -2)], "id long, v long"), b, "append"),
            ],
        )
    # neither table advanced past its pre-transaction tip (b's v1 is
    # the add_check_constraint metadata version itself)
    assert latest_version(spark, a) == 0 and latest_version(spark, b) == 1
    assert read_table(spark, a).count() == 1 and read_table(spark, b).count() == 1


# ---- RESTORE + shallow CLONE (round 11) -------------------------------


def test_restore_table_to_old_version(spark, tmp_path):
    """RESTORE commits a NEW version referencing the target's files:
    data equals the target snapshot, intermediate history stays
    time-travelable, schema/constraints roll back with it, and the
    change-feed stream retract-applies across the restore onto the
    restored snapshot."""
    from collections import Counter

    import pytest

    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        append_table,
        create_table,
        delete_from_table,
        latest_version,
        read_table,
        restore_table,
        table_constraints,
    )
    from wnv_etl_lab2_spark.sources.versioned_stream import VersionedTableStreamSource

    spark.dataSource.register(VersionedTableStreamSource)
    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), tbl)
    append_table(spark.createDataFrame([(3, "c")], "id long, v string"), tbl)  # v1
    add_check_constraint(spark, tbl, "id_pos", "id > 0")  # v2
    delete_from_table(spark, tbl, "id = 1")  # v3
    assert restore_table(spark, tbl, 1) == 4
    # snapshot == v1's; history intact; constraint (added at v2) gone
    assert {r.id for r in read_table(spark, tbl).collect()} == {1, 2, 3}
    assert {r.id for r in read_table(spark, tbl, 3).collect()} == {2, 3}
    assert table_constraints(spark, tbl) == {}
    assert table_constraints(spark, tbl, 3) == {"id_pos": "id > 0"}
    with pytest.raises(ValueError, match="cannot restore"):
        restore_table(spark, tbl, 99)

    # CDF stream retract-applies THROUGH delete + restore onto the tip
    state: Counter = Counter()

    def apply(df, _bid):
        for r in df.collect():
            state[(r.id, r.v)] += (
                1 if r._change_type in ("insert", "update_postimage") else -1
            )

    q = (
        spark.readStream.format("versioned_table")
        .option("path", tbl)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    final = Counter((r.id, r.v) for r in read_table(spark, tbl).collect())
    assert +state == final


def test_shallow_clone_zero_copy_and_independent(spark, tmp_path):
    """Shallow clone references the source's files without copying;
    reads match; writes to either side stay independent; the clone's
    vacuum never deletes source files; provenance is recorded."""
    import os

    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        append_table,
        clone_table,
        create_table,
        read_table,
        vacuum_table,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    create_table(
        spark.createDataFrame([(i, "x") for i in range(10)], "id long, v string"), src
    )
    append_table(spark.createDataFrame([(10, "y")], "id long, v string"), src)
    assert clone_table(spark, src, dst) == 0
    # zero-copy: the clone's v0 has no data dir of its own
    assert not os.path.isdir(os.path.join(dst, "data"))
    assert {r.id for r in read_table(spark, dst).collect()} == set(range(11))
    m = _read_manifest(spark, dst, 0)
    assert m["cloned_from"] == {"path": src, "version": 1}
    # independent writes: clone appends never touch the source
    append_table(spark.createDataFrame([(99, "z")], "id long, v string"), dst)
    assert {r.id for r in read_table(spark, src).collect()} == set(range(11))
    assert 99 in {r.id for r in read_table(spark, dst).collect()}
    # source gains a row the clone never sees
    append_table(spark.createDataFrame([(50, "w")], "id long, v string"), src)
    assert 50 not in {r.id for r in read_table(spark, dst).collect()}
    # the clone's vacuum is scoped to its own data dir: source files
    # survive and both tables still read
    vacuum_table(spark, dst, keep_last=1)
    assert {r.id for r in read_table(spark, src).collect()} == set(range(11)) | {50}
    assert 99 in {r.id for r in read_table(spark, dst).collect()}


def test_update_table_semantics_and_row_level_changes(spark, tmp_path):
    """UPDATE: assignments see PRE-update values (a,b swap works),
    NULL conditions leave rows unmodified, unknown SET targets raise,
    history is preserved, change_data persists exactly the touched
    rows' pre/post images, and a violating SET is refused by CHECK
    constraints before any version commits."""
    import pytest

    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        create_table,
        latest_version,
        read_table,
        update_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(1, 10, 100), (2, 20, 200), (3, None, 300)], "id long, a long, b long"
        ),
        tbl,
    )
    # swap a and b where a >= 20; id=3's NULL condition row is untouched
    v = update_table(
        spark, tbl, {"a": "b", "b": "a"}, "a >= 20", change_data=True
    )
    assert v == 1
    got = {r.id: (r.a, r.b) for r in read_table(spark, tbl).collect()}
    assert got == {1: (10, 100), 2: (200, 20), 3: (None, 300)}
    assert {r.id: (r.a, r.b) for r in read_table(spark, tbl, 0).collect()}[2] == (20, 200)
    # change set: exactly one pre-image + one post-image
    ch = [(r._change_type, r.id, r.a, r.b) for r in read_change_data(spark, tbl, 0).collect()]
    assert sorted(ch) == [
        ("update_postimage", 2, 200, 20),
        ("update_preimage", 2, 20, 200),
    ]

    with pytest.raises(ValueError, match="unknown columns"):
        update_table(spark, tbl, {"nope": "1"}, "id = 1")

    # constraints veto a violating SET atomically
    add_check_constraint(spark, tbl, "b_nonneg", "b >= 0")
    v_before = latest_version(spark, tbl)
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        update_table(spark, tbl, {"b": "-1"}, "id = 1")
    assert latest_version(spark, tbl) == v_before
    assert {r.id: r.b for r in read_table(spark, tbl).collect()}[1] == 100


def test_update_streams_row_level_through_change_feed(spark, tmp_path):
    """A 1-row UPDATE on a multi-file table streams exactly 2 change
    rows when written with change_data=True."""
    from collections import Counter

    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        read_table,
        update_table,
    )
    from wnv_etl_lab2_spark.sources.versioned_stream import VersionedTableStreamSource

    spark.dataSource.register(VersionedTableStreamSource)
    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, i * 10) for i in range(40)], "id long, v long"
        ).repartition(8),
        tbl,
    )
    update_table(spark, tbl, {"v": "v + 1"}, "id = 7", change_data=True)

    state: Counter = Counter()
    per_version: Counter = Counter()

    def apply(df, _bid):
        for r in df.collect():
            per_version[r._commit_version] += 1
            state[(r.id, r.v)] += (
                1 if r._change_type in ("insert", "update_postimage") else -1
            )

    q = (
        spark.readStream.format("versioned_table")
        .option("path", tbl)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert per_version[1] == 2
    final = Counter((r.id, r.v) for r in read_table(spark, tbl).collect())
    assert +state == final


# ---- DELETION VECTORS: merge-on-read delete (round 11) ----------------


def test_merge_on_read_delete_no_rewrite_and_equivalent_reads(spark, tmp_path):
    """DV delete: same logical result as copy-on-write without
    rewriting a single data file; cumulative across two deletes;
    appends carry the vectors; pruned reads apply them; OPTIMIZE folds
    them back in; vacuum collects stale DV dirs after the fold."""
    import glob
    import os

    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        append_table,
        collect_stats,
        create_table,
        delete_from_table,
        optimize_table,
        read_table,
        read_table_pruned,
        vacuum_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, i % 5) for i in range(50)], "id long, grp long"
        ).repartition(5),
        tbl,
    )
    data_dirs_before = set(glob.glob(f"{tbl}/data/*/"))

    assert delete_from_table(spark, tbl, "grp = 0", mode="merge_on_read") == 1
    # no data files rewritten: the data dir set is unchanged
    assert set(glob.glob(f"{tbl}/data/*/")) == data_dirs_before
    m1 = _read_manifest(spark, tbl, 1)
    assert m1["op"] == "delete" and m1["dv"] and m1["dv_add"] == m1["dv"]
    assert m1["n_rows"] == 40
    got = {r.id for r in read_table(spark, tbl).collect()}
    assert got == {i for i in range(50) if i % 5 != 0}
    assert read_table(spark, tbl, 0).count() == 50  # time travel intact

    # second DV delete is CUMULATIVE
    delete_from_table(spark, tbl, "grp = 1", mode="merge_on_read")
    m2 = _read_manifest(spark, tbl, 2)
    assert len(m2["dv"]) == len(m1["dv"]) + len(m2["dv_add"])
    assert {r.grp for r in read_table(spark, tbl).collect()} == {2, 3, 4}
    assert m2["n_rows"] == 30

    # appends carry the vectors (old rows stay deleted, new rows live)
    append_table(spark.createDataFrame([(100, 0)], "id long, grp long"), tbl)
    got = {r.id for r in read_table(spark, tbl).collect()}
    assert 100 in got and not any(i in got for i in range(0, 50, 5))

    # stats-pruned reads subtract the vectors too
    collect_stats(spark, tbl, ["id"])
    pruned = {r.id for r in read_table_pruned(spark, tbl, "id", 0, 12).collect()}
    assert pruned == {i for i in range(13) if i % 5 not in (0, 1)}

    # OPTIMIZE materializes through read_table and RESETS the DV
    v_opt = optimize_table(spark, tbl, target_files=1)
    m_opt = _read_manifest(spark, tbl, v_opt)
    assert "dv" not in m_opt
    assert {r.grp for r in read_table(spark, tbl).collect()} == {0, 2, 3, 4}
    assert read_table(spark, tbl).count() == 31

    # vacuum to the folded version: stale DV dirs are garbage now
    assert os.path.isdir(os.path.join(tbl, "_dv"))
    vacuum_table(spark, tbl, keep_last=1)
    assert glob.glob(f"{tbl}/_dv/*/") == []
    assert read_table(spark, tbl).count() == 31


def test_purge_deletion_vectors_rewrites_only_heavy_files(spark, tmp_path):
    """Round 12 (r11 verdict #2): purge_deletion_vectors rewrites
    exactly the files whose deleted fraction crosses the threshold —
    DV-free, content identical — keeps light files with their DV
    entries, stays metadata-driven (manifest dv_counts), and vacuum
    reclaims the purged DV files."""
    import glob

    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        create_table,
        delete_from_table,
        purge_deletion_vectors,
        read_table,
        vacuum_table,
    )

    tbl = str(tmp_path / "tbl")
    # 5 range-partitioned files of 10 rows each, grp = id // 10
    create_table(
        spark.createDataFrame(
            [(i, i // 10) for i in range(50)], "id long, grp long"
        ).repartitionByRange(5, "grp"),
        tbl,
    )
    # heavy damage to grp 0's file (8/10 deleted), light to grp 1 (1/10)
    delete_from_table(spark, tbl, "grp = 0 AND id < 8", mode="merge_on_read")
    delete_from_table(spark, tbl, "id = 10", mode="merge_on_read")
    m = _read_manifest(spark, tbl, 2)
    assert sum(m["dv_counts"].values()) == 9  # cumulative per-file counts
    want = {r.id for r in read_table(spark, tbl).collect()}

    files_before = set(_read_manifest(spark, tbl, 2)["files"])
    v = purge_deletion_vectors(spark, tbl, max_deleted_fraction=0.5)
    assert v == 3
    m3 = _read_manifest(spark, tbl, 3)
    # exactly one file rewritten; the other four kept verbatim
    kept = files_before & set(m3["files"])
    assert len(kept) == 4 and len(m3["files"]) >= 4
    # the light file's DV entry survives; the heavy file's is gone
    assert m3["dv"] and sum(m3["dv_counts"].values()) == 1
    # content identical through the rewrite
    assert {r.id for r in read_table(spark, tbl).collect()} == want
    assert read_table(spark, tbl, 2).count() == len(want)  # time travel

    # idempotent: nothing else crosses the threshold -> no new commit
    assert purge_deletion_vectors(spark, tbl, max_deleted_fraction=0.5) is None
    # a 0-threshold purge folds the remaining DV away entirely
    v4 = purge_deletion_vectors(spark, tbl, max_deleted_fraction=0.0)
    m4 = _read_manifest(spark, tbl, v4)
    assert "dv" not in m4
    assert {r.id for r in read_table(spark, tbl).collect()} == want

    # vacuum to the purged version: every DV dir is unreferenced garbage
    vacuum_table(spark, tbl, keep_last=1)
    assert glob.glob(f"{tbl}/_dv/*/") == []
    assert {r.id for r in read_table(spark, tbl).collect()} == want


def test_apply_dv_falls_back_to_shuffled_anti_join_past_cap(spark, tmp_path):
    """Round 12 (r11 verdict #2): _apply_dv drops the broadcast hint
    when the DV footer row count exceeds DV_BROADCAST_MAX_ROWS — the
    plan carries no BroadcastExchange, and reads stay correct through
    the shuffled path."""
    from wnv_etl_lab2_spark.sources import versioned
    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        delete_from_table,
        read_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, i % 4) for i in range(100)], "id long, grp long"
        ).repartition(4),
        tbl,
    )
    delete_from_table(spark, tbl, "grp = 0", mode="merge_on_read")
    want = {i for i in range(100) if i % 4 != 0}

    assert "BroadcastExchange" in read_table(spark, tbl)._jdf.queryExecution().executedPlan().toString()

    old = versioned.DV_BROADCAST_MAX_ROWS
    versioned.DV_BROADCAST_MAX_ROWS = 0  # force the fallback
    try:
        df = read_table(spark, tbl)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan  # shuffled anti-join
        assert {r.id for r in df.collect()} == want
    finally:
        versioned.DV_BROADCAST_MAX_ROWS = old
    assert {r.id for r in read_table(spark, tbl).collect()} == want


def test_merge_on_read_delete_streams_exact_retractions(spark, tmp_path):
    """A DV delete changes NO files — the change feed must still emit
    exactly the deleted rows (from the version's own DV positions),
    and retract-apply must land on the snapshot."""
    from collections import Counter

    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        delete_from_table,
        read_table,
    )
    from wnv_etl_lab2_spark.sources.versioned_stream import VersionedTableStreamSource

    spark.dataSource.register(VersionedTableStreamSource)
    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, i % 10) for i in range(40)], "id long, grp long"
        ).repartition(8),
        tbl,
    )
    delete_from_table(spark, tbl, "grp = 3", mode="merge_on_read")

    state: Counter = Counter()
    per_version: Counter = Counter()

    def apply(df, _bid):
        for r in df.collect():
            per_version[r._commit_version] += 1
            state[(r.id, r.grp)] += (
                1 if r._change_type in ("insert", "update_postimage") else -1
            )

    q = (
        spark.readStream.format("versioned_table")
        .option("path", tbl)
        .option("readChangeFeed", "true")
        .load()
        .writeStream.foreachBatch(apply)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert per_version[1] == 4  # exactly the four grp=3 rows retracted
    final = Counter((r.id, r.grp) for r in read_table(spark, tbl).collect())
    assert +state == final
    assert not [k for k, n in state.items() if n < 0]


def test_round11_features_compose_in_one_lifecycle(spark, tmp_path):
    """Capstone composition: CHECK constraints + UPDATE + merge-on-read
    DELETE (deletion vectors) + row-level change data + RESTORE +
    shallow CLONE + the CDF-backed matview all operate on ONE table's
    lifecycle without stepping on each other — the integration a real
    deployment exercises daily, not just each feature's unit pin."""
    from collections import Counter

    import pytest

    from test_matview import _cagg, _cmerge_signed

    from wnv_etl_lab2_spark.operators.matview import refresh_incremental_cdf
    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        append_table,
        clone_table,
        create_table,
        delete_from_table,
        merge_upsert_table,
        read_table,
        restore_table,
        update_table,
    )

    tbl, view, clone = str(tmp_path / "t"), str(tmp_path / "v"), str(tmp_path / "c")
    create_table(
        spark.createDataFrame(
            [(i, "u%d" % (i % 3), i * 10) for i in range(12)],
            "id long, user string, v long",
        ),
        tbl,
    )
    add_check_constraint(spark, tbl, "v_nonneg", "v >= 0")  # v1

    merge, retract = _cmerge_signed(F.lit(1)), _cmerge_signed(F.lit(-1))

    def refresh():
        return refresh_incremental_cdf(
            spark, tbl, view, "id", _cagg, merge, retract
        )

    def assert_view_fresh():
        want = {(r.user, r.n, float(r.sv)) for r in _cagg(read_table(spark, tbl)).collect()}
        got = {(r.user, r.n, float(r.sv)) for r in read_table(spark, view).collect()}
        assert got == want

    refresh()  # full build at v1
    assert_view_fresh()

    # UPDATE with row-level change data; constraint enforced en route
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        update_table(spark, tbl, {"v": "-5"}, "id = 0")
    update_table(spark, tbl, {"v": "v + 7"}, "user = 'u1'", change_data=True)  # v2
    refresh()
    assert_view_fresh()

    # merge-on-read DELETE: no files rewritten, view still refreshes
    delete_from_table(spark, tbl, "id >= 9", mode="merge_on_read")  # v3
    refresh()
    assert_view_fresh()

    # appends carry both constraints AND deletion vectors forward
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        append_table(spark.createDataFrame([(50, "u0", -1)], "id long, user string, v long"), tbl)
    append_table(spark.createDataFrame([(50, "u0", 5)], "id long, user string, v long"), tbl)  # v4
    refresh()
    assert_view_fresh()

    # shallow clone sees the DV-applied snapshot and lives independently
    clone_table(spark, tbl, clone)
    assert Counter(r.id for r in read_table(spark, clone).collect()) == Counter(
        r.id for r in read_table(spark, tbl).collect()
    )
    merge_upsert_table(spark.createDataFrame([(99, "u2", 1)], "id long, user string, v long"), clone, key="id")
    assert 99 not in {r.id for r in read_table(spark, tbl).collect()}

    # RESTORE to the pre-delete version; the CDF refresher retracts/
    # applies across BOTH the delete and the restore correctly
    restore_table(spark, tbl, 2)  # v5: ids 9..11 are back, id 50 gone
    got = {r.id for r in read_table(spark, tbl).collect()}
    assert got == set(range(12))
    refresh()
    assert_view_fresh()


def test_table_history_and_vacuum_dry_run(spark, tmp_path):
    """DESCRIBE HISTORY reports every version's op and protocol flags
    (change data, deletion vectors, constraints, restore provenance);
    VACUUM dry_run previews the drop list without deleting anything."""
    import glob

    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        append_table,
        create_table,
        delete_from_table,
        read_table,
        restore_table,
        table_history,
        vacuum_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(1, 5), (2, 6)], "id long, v long"), tbl)
    append_table(spark.createDataFrame([(3, 7)], "id long, v long"), tbl)
    add_check_constraint(spark, tbl, "v_pos", "v > 0")
    delete_from_table(spark, tbl, "id = 1", mode="merge_on_read", change_data=True)
    restore_table(spark, tbl, 1)

    h = {r.version: r for r in table_history(spark, tbl).collect()}
    assert [h[v].op for v in range(5)] == ["create", "append", "analyze", "delete", "restore"]
    assert h[3].has_dv and h[3].has_change_data and h[3].n_rows == 2
    assert h[3].constraints == ["v_pos"]
    assert h[4].restored_from == 1 and not h[4].has_dv
    assert h[4].n_rows == 3 and not h[4].txn_pending

    manifests_before = sorted(glob.glob(f"{tbl}/_log/*.json"))
    data_before = sorted(glob.glob(f"{tbl}/data/*/*"))
    assert vacuum_table(spark, tbl, keep_last=2, dry_run=True) == [0, 1, 2]
    # dry run deleted NOTHING
    assert sorted(glob.glob(f"{tbl}/_log/*.json")) == manifests_before
    assert sorted(glob.glob(f"{tbl}/data/*/*")) == data_before
    assert read_table(spark, tbl, 0).count() == 2  # still time-travelable
    # the real vacuum then drops exactly the previewed versions
    assert vacuum_table(spark, tbl, keep_last=2) == [0, 1, 2]


def test_timestamp_as_of_and_time_based_retention(spark, tmp_path, monkeypatch):
    """Round 12: every commit is wall-clock stamped (ts_ms);
    TIMESTAMP AS OF resolves to the largest visible version stamped
    <= the target (never assuming monotonic clocks); DESCRIBE HISTORY
    surfaces the stamp; VACUUM RETAIN n HOURS drops only versions past
    the retention cutoff — including a NON-contiguous drop under clock
    skew, where the kept child of a dropped append parent must stay
    readable through its own checkpoint."""
    import time as _time

    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        create_table,
        read_table,
        read_table_as_of_timestamp,
        table_history,
        vacuum_table,
        version_as_of_timestamp,
    )

    t0 = 1_800_000_000.0  # fixed epoch base
    clock = {"now": t0}
    monkeypatch.setattr(_time, "time", lambda: clock["now"])

    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(0, "a")], "id long, v string"), tbl)
    clock["now"] = t0 + 3600
    append_table(spark.createDataFrame([(1, "b")], "id long, v string"), tbl)
    clock["now"] = t0 + 7200
    append_table(spark.createDataFrame([(2, "c")], "id long, v string"), tbl)

    assert version_as_of_timestamp(spark, tbl, int((t0 + 1) * 1000)) == 0
    assert version_as_of_timestamp(spark, tbl, int((t0 + 5400) * 1000)) == 1
    assert {
        r.id
        for r in read_table_as_of_timestamp(
            spark, tbl, int((t0 + 5400) * 1000)
        ).collect()
    } == {0, 1}
    with pytest.raises(ValueError, match="no version"):
        version_as_of_timestamp(spark, tbl, int((t0 - 10) * 1000))
    hist = {r.version: r.ts_ms for r in table_history(spark, tbl).collect()}
    assert hist == {
        0: int(t0 * 1000),
        1: int((t0 + 3600) * 1000),
        2: int((t0 + 7200) * 1000),
    }

    # time-based retention: 1.5h before "now" = t0+2h+1s keeps v1, v2
    clock["now"] = t0 + 7201
    assert vacuum_table(spark, tbl, retain_hours=1.5, dry_run=True) == [0]
    assert vacuum_table(spark, tbl, retain_hours=1.5) == [0]
    assert {r.id for r in read_table(spark, tbl).collect()} == {0, 1, 2}
    assert {r.id for r in read_table(spark, tbl, 1).collect()} == {0, 1}
    with pytest.raises(ValueError):
        read_table(spark, tbl, 0)

    # NON-contiguous drop (clock skew): v0 stamped LATE, its child v1
    # stamped early -> retention drops v1 but keeps v0 and v2; v2's
    # append chain walked through v1, so vacuum checkpoints v2
    tbl2 = str(tmp_path / "skew")
    clock["now"] = t0 + 36000  # late create
    create_table(spark.createDataFrame([(0, "a")], "id long, v string"), tbl2)
    clock["now"] = t0  # skewed-back append
    append_table(spark.createDataFrame([(1, "b")], "id long, v string"), tbl2)
    clock["now"] = t0 + 36000
    append_table(spark.createDataFrame([(2, "c")], "id long, v string"), tbl2)
    clock["now"] = t0 + 36001
    assert vacuum_table(spark, tbl2, retain_hours=5.0) == [1]
    assert {r.id for r in read_table(spark, tbl2).collect()} == {0, 1, 2}
    assert {r.id for r in read_table(spark, tbl2, 0).collect()} == {0}
    with pytest.raises(ValueError):
        read_table(spark, tbl2, 1)


def test_write_time_stats_maintenance(spark, tmp_path):
    """Round 12 (Delta's indexed-columns contract): stats_cols declared
    at create (or via ANALYZE) are MAINTAINED by every write — appends
    stat only their new files, rewrites re-stat their output, MoR
    deletes/constraint ops carry, OPTIMIZE re-stats the compacted
    layout — so read_table_pruned skips files without any manual
    ANALYZE after the declaration."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        append_table,
        collect_stats,
        create_table,
        delete_from_table,
        latest_version,
        optimize_table,
        read_table,
        read_table_pruned,
        update_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, i * 10) for i in range(100)], "id long, v long"
        ).repartitionByRange(4, "id"),
        tbl,
        stats_cols=["id"],
    )
    m0 = _read_manifest(spark, tbl, 0)
    assert m0["stats_cols"] == ["id"] and len(m0["stats"]) == 4

    # append: only the new files gain entries; old entries carried
    append_table(
        spark.createDataFrame([(1000, 0), (1001, 0)], "id long, v long").coalesce(1),
        tbl,
    )
    m1 = _read_manifest(spark, tbl, 1)
    assert m1["stats_cols"] == ["id"] and len(m1["stats"]) == 5
    pruned = read_table_pruned(spark, tbl, "id", 1000, 2000)
    assert {r.id for r in pruned.collect()} == {1000, 1001}
    assert len(pruned.inputFiles()) < len(read_table(spark, tbl).inputFiles())

    # rewrites re-stat their fresh output without being asked
    update_table(spark, tbl, {"v": "v + 1"}, "id = 0")
    m2 = _read_manifest(spark, tbl, 2)
    assert m2["stats_cols"] == ["id"] and m2["stats"]
    assert set(m2["stats"]) == set(m2["files"])

    # MoR delete carries; OPTIMIZE re-stats the compacted layout
    delete_from_table(spark, tbl, "id = 1", mode="merge_on_read")
    assert _read_manifest(spark, tbl, 3)["stats_cols"] == ["id"]
    v = optimize_table(spark, tbl, target_files=2)
    mo = _read_manifest(spark, tbl, v)
    assert set(mo["stats"]) == set(mo["files"]) and len(mo["files"]) <= 2
    want = {r.id for r in read_table(spark, tbl).where("id < 50").collect()}
    assert {r.id for r in read_table_pruned(spark, tbl, "id", 0, 49).collect()} == want

    # ANALYZE declares maintenance on an undeclared table
    tbl2 = str(tmp_path / "tbl2")
    create_table(
        spark.createDataFrame([(i, i) for i in range(10)], "id long, v long"),
        tbl2,
    )
    assert "stats_cols" not in _read_manifest(spark, tbl2, 0)
    collect_stats(spark, tbl2, ["v"])
    append_table(
        spark.createDataFrame([(99, 99)], "id long, v long"), tbl2
    )
    m = _read_manifest(spark, tbl2, latest_version(spark, tbl2))
    assert m["stats_cols"] == ["v"] and any(
        s.get("v") == [99, 99] for s in m["stats"].values()
    )


def test_concurrent_writers_stress_no_lost_updates(spark, tmp_path):
    """Round 12: N threads race appends (and a few merges) through
    with_retries against ONE table — every batch must land exactly
    once (no lost updates, no duplicates), versions must be a
    contiguous winner-per-slot chain, and the final snapshot must be
    the union of all batches. This is the optimistic-concurrency claim
    (exclusive manifest create + rebase-and-retry) under a real
    thread race, not a mocked one."""
    import threading

    from wnv_etl_lab2_spark.sources.versioned import (
        _list_versions,
        _read_manifest,
        append_table,
        create_table,
        merge_upsert_table,
        read_table,
        with_retries,
    )

    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(0, -1)], "id long, w long"), tbl)

    n_threads, per_thread = 6, 4
    errors: list[Exception] = []

    def writer(t: int) -> None:
        try:
            for b in range(per_thread):
                base = 1000 * t + 10 * b
                rows = [(base + j, t) for j in range(3)]
                if (t + b) % 3 == 0:
                    # merge arm: upsert the same 3 rows (new keys)
                    with_retries(
                        lambda rows=rows: merge_upsert_table(
                            spark.createDataFrame(rows, "id long, w long"),
                            tbl,
                            key="id",
                        ),
                        attempts=30,
                    )
                else:
                    with_retries(
                        lambda rows=rows: append_table(
                            spark.createDataFrame(rows, "id long, w long"), tbl
                        ),
                        attempts=30,
                    )
        except Exception as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(t,)) for t in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []

    versions = _list_versions(spark, tbl)
    assert versions == list(range(n_threads * per_thread + 1))  # contiguous
    got = {r.id for r in read_table(spark, tbl).collect()}
    want = {0} | {
        1000 * t + 10 * b + j
        for t in range(n_threads)
        for b in range(per_thread)
        for j in range(3)
    }
    assert got == want  # every batch exactly once
    # n_rows bookkeeping survived the races
    m = _read_manifest(spark, tbl, versions[-1])
    assert int(m["n_rows"]) == len(want)


def test_drop_and_rename_column_rewrites(spark, tmp_path):
    """Round 12: DROP/RENAME COLUMN as copy-on-write rewrites — the new
    snapshot and schema change, history keeps the old shape, declared
    stats_cols follow the rename/drop, constraint references refuse
    the rename, and appends against the new schema work."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        add_check_constraint,
        append_table,
        create_table,
        drop_check_constraint,
        drop_column,
        latest_version,
        read_table,
        rename_column,
        table_schema,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, v string, score double"
        ),
        tbl,
        stats_cols=["id", "score"],
    )

    # rename refuses while a constraint references the column
    add_check_constraint(spark, tbl, "score_pos", "score >= 0")
    with pytest.raises(ValueError, match="constraints reference"):
        rename_column(spark, tbl, "score", "weight")
    drop_check_constraint(spark, tbl, "score_pos")

    v = rename_column(spark, tbl, "score", "weight")
    assert table_schema(spark, tbl).names == ["id", "v", "weight"]
    m = _read_manifest(spark, tbl, v)
    assert m["op"] == "rename_column" and m["stats_cols"] == ["id", "weight"]
    assert {r.weight for r in read_table(spark, tbl).collect()} == {1.0, 2.0}
    # history keeps the old shape
    assert "score" in table_schema(spark, tbl, 0).names

    with pytest.raises(ValueError, match="no such column"):
        rename_column(spark, tbl, "score", "x")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(spark, tbl, "id", "v")

    v = drop_column(spark, tbl, "v")
    assert table_schema(spark, tbl).names == ["id", "weight"]
    assert _read_manifest(spark, tbl, v)["stats_cols"] == ["id", "weight"]
    with pytest.raises(ValueError, match="no such column"):
        drop_column(spark, tbl, "v")

    # appends against the new schema compose; stats maintenance intact
    append_table(spark.createDataFrame([(9, 9.0)], "id long, weight double"), tbl)
    got = {(r.id, r.weight) for r in read_table(spark, tbl).collect()}
    assert got == {(1, 1.0), (2, 2.0), (9, 9.0)}
    m = _read_manifest(spark, tbl, latest_version(spark, tbl))
    assert m["stats_cols"] == ["id", "weight"] and m["stats"]

    # last-column guard
    tbl2 = str(tmp_path / "one")
    create_table(spark.createDataFrame([(1,)], "id long"), tbl2)
    with pytest.raises(ValueError, match="last column"):
        drop_column(spark, tbl2, "id")


def test_merge_into_full_clause_matrix(spark, tmp_path):
    """Round 12: general conditional MERGE — ordered WHEN MATCHED
    clauses (conditional DELETE, conditional UPDATE with expressions
    over t AND s, first-true wins), conditional NOT MATCHED INSERT,
    ignored unmatched source rows, * forms with null-fill and type
    coercion, and the Delta cardinality check (ambiguous multi-match
    raises and the table rolls back)."""
    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        latest_version,
        merge_into_table,
        read_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
            "id long, v string, n long",
        ),
        tbl,
    )
    src = spark.createDataFrame(
        [
            (1, "DEL", 0),    # matched + delete condition
            (2, "upd", 5),    # matched + update
            (3, "skip", 0),   # matched, no clause condition true
            (9, "new", 90),   # not matched + insert condition true
            (10, "drop", 0),  # not matched, insert condition false
        ],
        "id long, op string, delta int",
    )
    v = merge_into_table(
        spark,
        tbl,
        src,
        on="t.id = s.id",
        matched=[
            ("s.op = 'DEL'", "delete", None),
            ("s.op = 'upd'", "update", {"v": "concat(t.v, '+', s.op)", "n": "t.n + s.delta"}),
        ],
        not_matched=[("s.op = 'new'", {"id": "s.id", "v": "s.op", "n": "s.delta"})],
    )
    assert v == 1
    got = {(r.id, r.v, r.n) for r in read_table(spark, tbl).collect()}
    assert got == {
        (2, "b+upd", 25),   # updated with t AND s expressions
        (3, "c", 30),       # matched, no true clause: kept
        (4, "d", 40),       # unmatched target: kept
        (9, "new", 90),     # conditional insert
    }
    # time travel intact
    assert read_table(spark, tbl, 0).count() == 4

    # "*" forms: update/insert every source column by name; missing
    # target columns null-fill; int delta coerces into long n
    src2 = spark.createDataFrame([(2, "Z"), (7, "q")], "id long, v string")
    merge_into_table(
        spark, tbl, src2, on="t.id = s.id",
        matched=[(None, "update", "*")],
        not_matched=[(None, "*")],
    )
    got = {(r.id, r.v, r.n) for r in read_table(spark, tbl).collect()}
    assert (2, "Z", None) in got and (7, "q", None) in got
    assert (3, "c", 30) in got

    # cardinality violation: two source rows match one target row ->
    # raises WITHOUT committing anything (round 13 — no version slot is
    # consumed, no restore needed; the pre-publish check). Equi-ON here
    # takes the cheap key-aggregate path.
    v_before = latest_version(spark, tbl)
    dup = spark.createDataFrame([(3, "x"), (3, "y")], "id long, v string")
    with pytest.raises(ValueError, match="cardinality"):
        merge_into_table(
            spark, tbl, dup, on="t.id = s.id",
            matched=[(None, "update", "*")],
        )
    assert latest_version(spark, tbl) == v_before  # nothing committed
    got_after = {(r.id, r.v, r.n) for r in read_table(spark, tbl).collect()}
    assert got_after == got

    # the same violation through a NON-equi ON exercises the general
    # (window + Observation) path: the staged attempt aborts before its
    # manifest publishes — still no committed version, not even a
    # transient one (the manifest never existed)
    with pytest.raises(ValueError, match="cardinality"):
        merge_into_table(
            spark, tbl, dup, on="abs(t.id) = abs(s.id)",
            matched=[(None, "update", "*")],
        )
    assert latest_version(spark, tbl) == v_before
    # duplicate source keys that DON'T exist in the target are fine
    # (both insert) — the equi pre-check must semi-join against target
    # keys, not reject any duplicate source key
    dup_new = spark.createDataFrame([(55, "p"), (55, "q")], "id long, v string")
    merge_into_table(
        spark, tbl, dup_new, on="t.id = s.id",
        matched=[(None, "update", "*")], not_matched=[(None, "*")],
    )
    assert read_table(spark, tbl).where("id = 55").count() == 2

    with pytest.raises(ValueError, match="unknown columns"):
        merge_into_table(
            spark, tbl, src2, on="t.id = s.id",
            matched=[(None, "update", {"nope": "1"})],
        )


def test_merge_equi_cardinality_check_plan(spark, tmp_path, monkeypatch):
    """The Delta cardinality check plans NO window for either ON shape:
    it is one count identity whose counts ride the write (evaluated
    pre-publish). Pinned by capturing the frame MERGE hands to
    _write_version."""
    import wnv_etl_lab2_spark.sources.versioned as V

    tbl = str(tmp_path / "tbl")
    V.create_table(spark.createDataFrame([(1, 10)], "id long, n long"), tbl)
    captured = {}
    real = V._write_version

    def spy(df, *a, **k):
        captured["plan"] = df._jdf.queryExecution().executedPlan().toString()
        return real(df, *a, **k)

    monkeypatch.setattr(V, "_write_version", spy)
    src = spark.createDataFrame([(1, 99), (2, 22)], "id long, n long")
    V.merge_into_table(
        spark, tbl, src, on="t.id = s.id",
        matched=[(None, "update", "*")], not_matched=[(None, "*")],
    )
    assert "Window" not in captured["plan"]
    V.merge_into_table(
        spark, tbl, src, on="abs(t.id) = abs(s.id)",
        matched=[(None, "update", "*")],
    )
    assert "Window" not in captured["plan"]

    # unknown ON columns raise loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        V.merge_into_table(
            spark, tbl, src, on="t.nope = s.id",
            matched=[(None, "update", "*")],
        )


def test_merge_cardinality_identity_edges(spark, tmp_path):
    """The one cardinality identity (join rows carrying a target row vs
    target rows) neither hangs nor fires wrongly where a join side is
    empty, where only the source or only the target side repeats, when
    change files are written before the data, when every row is
    deleted, and in a transaction chain whose later step overwrites the
    merged view — and still fires on a real multi-match there."""
    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.transactions import (
        TxnWrite,
        commit_transaction,
    )
    from wnv_etl_lab2_spark.sources.versioned import (
        _upsert_clauses,
        merge_into_table,
    )

    schema = "id long, v string"

    def src(rows):
        return spark.createDataFrame(rows, schema)

    def rows(path):
        return sorted(tuple(r) for r in read_table(spark, path).collect())

    tbl = str(tmp_path / "t")
    create_table(src([(1, "a"), (2, "b")]), tbl)
    merge_upsert_table(src([]), tbl, "id")  # empty source
    assert rows(tbl) == [(1, "a"), (2, "b")]
    merge_upsert_table(src([(5, "n")]), tbl, "id")  # only new keys
    merge_upsert_table(src([(7, "p"), (7, "q")]), tbl, "id")  # duplicate new keys
    assert rows(tbl) == [(1, "a"), (2, "b"), (5, "n"), (7, "p"), (7, "q")]
    # one source row matching two target rows is not ambiguous
    merge_into_table(
        spark, tbl, src([(7, "z")]), on="abs(t.id) = abs(s.id)",
        matched=[(None, "update", "*")],
    )
    assert rows(tbl) == [(1, "a"), (2, "b"), (5, "n"), (7, "z"), (7, "z")]
    v = merge_upsert_table(src([(1, "A"), (9, "i")]), tbl, "id", change_data=True)
    assert sorted(
        (r._change_type, r.id, r.v) for r in read_change_data(spark, tbl, v - 1, v).collect()
    ) == [("insert", 9, "i"), ("update_postimage", 1, "A"), ("update_preimage", 1, "a")]
    merge_into_table(
        spark, tbl, src([]), on="t.id = s.id",
        not_matched_by_source=[(None, "delete", None)],
    )
    assert rows(tbl) == []

    empty = str(tmp_path / "e")
    DeltaSql(spark, {"e": empty}).run("CREATE TABLE e (id BIGINT, v STRING)")
    merge_upsert_table(src([]), empty, "id")
    merge_upsert_table(src([(3, "x"), (3, "y")]), empty, "id")
    assert rows(empty) == [(3, "x"), (3, "y")]

    def chain(path, merge_rows):
        commit_transaction(spark, str(tmp_path / "_txn"), [
            TxnWrite(df=None, table_path=path, op="chain", chain=(
                {"op": "merge", "df": src(merge_rows),
                 "merge_kwargs": _upsert_clauses("id")},
                {"op": "overwrite", "df": src([(0, "o")])},
            )),
        ])

    v0 = latest_version(spark, empty)
    with pytest.raises(ValueError, match="cardinality"):
        chain(empty, [(3, "z"), (3, "w")])
    assert latest_version(spark, empty) == v0
    chain(empty, [(3, "z"), (4, "w")])
    assert rows(empty) == [(0, "o")]


def test_merge_into_change_data_vocabulary(spark, tmp_path):
    """change_data=True on the general MERGE persists the exact Delta
    CDF change set: delete for DELETE-clause rows, update_preimage/
    update_postimage pairs only for rows the UPDATE actually changed,
    insert for inserted rows — and retract-apply over the feed bridges
    the snapshots."""
    from collections import Counter

    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        merge_into_table,
        read_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
        ),
        tbl,
    )
    src = spark.createDataFrame(
        [(1, "DEL"), (2, "B"), (3, "c"), (9, "new")], "id long, v string"
    )
    merge_into_table(
        spark, tbl, src, on="t.id = s.id",
        matched=[
            ("s.v = 'DEL'", "delete", None),
            (None, "update", {"v": "s.v"}),
        ],
        not_matched=[(None, "*")],
        change_data=True,
    )
    ch = [
        (r._change_type, r.id, r.v)
        for r in read_change_data(spark, tbl, 0).collect()
    ]
    # id=3's update assigned an IDENTICAL value: no change rows for it
    assert sorted(ch) == [
        ("delete", 1, "a"),
        ("insert", 9, "new"),
        ("update_postimage", 2, "B"),
        ("update_preimage", 2, "b"),
    ]
    # retract-apply bridges v0 -> v1
    state = Counter((r.id, r.v) for r in read_table(spark, tbl, 0).collect())
    for t, i, v in ch:
        state[(i, v)] += 1 if t in ("insert", "update_postimage") else -1
    final = Counter((r.id, r.v) for r in read_table(spark, tbl).collect())
    assert +state == final


def test_merge_with_schema_evolution(spark, tmp_path):
    """Round 13 (r12 verdict #7): MERGE with schema_evolution=True —
    source-only columns extend the target schema via the additive-union
    rule; pre-merge rows (old files) read them as NULL; INSERT * /
    UPDATE SET * carry them by name; the CDF change rows align with the
    evolved schema; and a type change still refuses."""
    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.versioned import (
        create_table,
        merge_into_table,
        read_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), tbl
    )
    src = spark.createDataFrame(
        [(2, "B", 20), (3, "c", 30)], "id long, v string, extra long"
    )
    # without evolution, * insert null-fills ONLY target columns and
    # the schema stays put
    v = merge_into_table(
        spark, tbl, src, on="t.id = s.id",
        matched=[(None, "update", "*")], not_matched=[(None, "*")],
    )
    assert read_table(spark, tbl, v).columns == ["id", "v"]

    v2 = merge_into_table(
        spark, tbl, src, on="t.id = s.id",
        matched=[(None, "update", "*")], not_matched=[(None, "*")],
        schema_evolution=True, change_data=True,
    )
    got = read_table(spark, tbl, v2)
    assert got.columns == ["id", "v", "extra"]
    rows = {(r.id, r.v, r.extra) for r in got.collect()}
    # id=1 untouched by the merge: evolved column reads NULL
    assert rows == {(1, "a", None), (2, "B", 20), (3, "c", 30)}

    # CDF rows align with the EVOLVED schema (pre-images read NULL for
    # the new column)
    ch = read_change_data(spark, tbl, v2 - 1, v2)
    assert set(ch.columns) == {"id", "v", "extra", "_change_type", "_commit_version"}
    by_type = {
        (r.id, r._change_type): r.extra for r in ch.collect()
    }
    assert by_type[(2, "update_preimage")] is None
    assert by_type[(2, "update_postimage")] == 20
    assert by_type[(3, "update_postimage")] == 30  # id=3 inserted at v1... see below

    # a TYPE change on an existing column refuses loudly
    bad = spark.createDataFrame([(9, 1.5)], "id long, v double")
    with pytest.raises(ValueError, match="incompatible schema evolution"):
        merge_into_table(
            spark, tbl, bad, on="t.id = s.id",
            matched=[(None, "update", "*")], schema_evolution=True,
        )


def test_sql_merge_with_schema_evolution(spark, tmp_path):
    """The SQL form: MERGE WITH SCHEMA EVOLUTION INTO ... routes
    through merge_into_table(schema_evolution=True)."""
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import create_table, read_table

    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(1, "a")], "id long, v string"), tbl)
    spark.createDataFrame(
        [(1, "A", 10), (2, "b", 20)], "id long, v string, extra long"
    ).createOrReplaceTempView("evo_src")
    sql = DeltaSql(spark, {"t": tbl})
    sql.run(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING evo_src ON t.id = evo_src.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {(r.id, r.v, r.extra) for r in read_table(spark, tbl).collect()}
    assert got == {(1, "A", 10), (2, "b", 20)}


# ---- metadata verbs on the driver ------------------------------------


def test_no_match_merge_on_read_delete_writes_no_deletion_vector(spark, tmp_path):
    """A merge-on-read DELETE that matches no row commits the parent's
    files and deletion vectors unchanged: no DV file is written or
    listed, so reads plan no anti-join, and rows, DESCRIBE DETAIL and
    history agree with a table that was never deleted from."""
    import os

    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        delete_from_table,
        table_detail,
        table_history,
    )

    tbl = str(tmp_path / "tbl")
    create_table(spark.range(100).selectExpr("id", "id % 7 AS g").coalesce(1), tbl)
    before = _content(read_table(spark, tbl))
    for _ in range(3):
        delete_from_table(spark, tbl, "id > 1000", mode="merge_on_read")
    assert latest_version(spark, tbl) == 3
    m = _read_manifest(spark, tbl, 3)
    assert len(m["files"]) == 1
    assert not m.get("dv") and not m.get("dv_add") and not m.get("dv_counts")
    assert not os.path.exists(os.path.join(tbl, "_dv"))
    df = read_table(spark, tbl)
    assert "LeftAnti" not in df._jdf.queryExecution().executedPlan().toString()
    assert _content(df) == before
    assert table_detail(spark, tbl).first()["num_rows"] == 100
    hist = table_history(spark, tbl).collect()
    assert [r.op for r in hist] == ["create"] + ["delete"] * 3
    assert {(r.n_rows, r.n_files, r.has_dv) for r in hist} == {(100, 1, False)}


def _jobs_of(spark, group: str, fn) -> int:
    """Spark jobs launched by ``fn()`` on this thread."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_metadata_verbs_launch_no_spark_job(spark, tmp_path):
    """DESCRIBE HISTORY / DETAIL, SHOW PARTITIONS and a vacuum whose
    oldest kept version is a full-snapshot manifest are driver-side
    metadata work: manifest reads, FileSystem calls and LocalRelation
    results. None of them may launch a Spark job, and that vacuum
    writes no checkpoint (the kept manifest's inline file list already
    ends every walk)."""
    import glob

    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        delete_from_table,
        table_detail,
        table_history,
        table_partitions,
    )

    tbl = str(tmp_path / "tbl")
    rows = spark.range(60).selectExpr("id", "IF(id % 3 = 0, 'de', 'en') AS lang")
    create_table(rows, tbl, partition_by=("lang",))
    append_table(
        spark.range(60, 90).selectExpr("id", "'fr' AS lang"), tbl
    )
    delete_from_table(spark, tbl, "id % 5 = 0")  # full-snapshot manifest
    verbs = {
        "history": lambda: table_history(spark, tbl).collect(),
        "detail": lambda: table_detail(spark, tbl).collect(),
        "partitions": lambda: table_partitions(spark, tbl).collect(),
        "vacuum": lambda: vacuum_table(spark, tbl, keep_last=1),
    }
    jobs = {name: _jobs_of(spark, f"zero-job-{name}", fn) for name, fn in verbs.items()}
    assert jobs == {name: 0 for name in verbs}
    assert glob.glob(f"{tbl}/_log/ckpt-*.parquet") == []
    assert latest_version(spark, tbl) == 2
    assert read_table(spark, tbl).count() == 90 - 18
    assert [r.lang for r in table_partitions(spark, tbl).collect()] == ["de", "en", "fr"]
