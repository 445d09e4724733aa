"""Round-15 protocol fixes (the r14 ADVICE list): bloom invalidation
on type widening, widened-table bloom collection, stream refusal on
stale-schema widening, MERGE identity fill vs supplied-value
collisions, and dv_counts carried by appends/rebases and every
same-files commit."""

from __future__ import annotations

import pytest

from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
from wnv_etl_lab2_spark.sources.versioned import (
    _assign_identity,
    _load_blooms,
    _read_manifest,
    add_check_constraint,
    alter_column_type,
    append_table,
    clone_table,
    collect_blooms,
    collect_stats,
    create_table,
    delete_from_table,
    drop_check_constraint,
    drop_not_null,
    latest_version,
    read_table,
    read_table_bloom_pruned,
    restore_table,
    set_not_null,
    table_detail,
)


# ------------------------------------------------- blooms vs widening


def test_bloom_pruning_survives_type_widening(spark, tmp_path):
    """The r14 ADVICE high: bloom bitmaps hash values at the PHYSICAL
    type they were collected at, and xxhash64 is type-sensitive
    (xxhash64(5 AS INT) != xxhash64(5 AS BIGINT)) — so a widening must
    DROP the column's bitmaps, or every pre-widening file would report
    'definitely absent' for values it contains and be silently
    skipped. After the drop, probes fall back to scanning those files:
    matching rows from OLD files keep coming back."""
    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(5, "a"), (6, "b")], "id int, tag string"),
        path,
    )
    append_table(
        spark.createDataFrame([(7, "c"), (8, "d")], "id int, tag string"),
        path,
    )
    collect_blooms(spark, path, ["id", "tag"])
    alter_column_type(spark, path, "id", "bigint")

    # the exact regression the advisory names: a value living only in
    # pre-widening files must still be found post-widening
    got = read_table_bloom_pruned(spark, path, "id", 5).collect()
    assert [(r.id, r.tag) for r in got] == [(5, "a")]
    got = read_table_bloom_pruned(spark, path, "id", 8).collect()
    assert [(r.id, r.tag) for r in got] == [(8, "d")]

    # the widened column's bitmaps are gone from the sidecar; the
    # untouched column's bitmaps survive (still valid, still pruning)
    m = _read_manifest(spark, path, latest_version(spark, path))
    meta = _load_blooms(spark, m)
    assert meta, "non-widened columns' blooms must be carried, not dropped"
    for per_col in meta["files"].values():
        assert "id" not in per_col
        assert "tag" in per_col
    got = read_table_bloom_pruned(spark, path, "tag", "b").collect()
    assert [(r.id, r.tag) for r in got] == [(5, "b")] or [
        (r.id, r.tag) for r in got
    ] == [(6, "b")]


def test_collect_blooms_on_widened_mixed_generations(spark, tmp_path):
    """The r14 ADVICE medium: collect_blooms' raw mergeSchema read
    fails outright on mixed int/long file generations; the widened
    branch must read with the explicit declared-type schema — which
    also makes every bitmap hash at the DECLARED type, consistent with
    probes."""
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(5,), (6,)], "id int"), path)
    alter_column_type(spark, path, "id", "bigint")
    append_table(
        spark.createDataFrame([(3_000_000_000,)], "id long"), path
    )
    # pre-fix: this raised (mergeSchema refuses int vs bigint)
    collect_blooms(spark, path, ["id"])
    m = _read_manifest(spark, path, latest_version(spark, path))
    meta = _load_blooms(spark, m)
    # every data file recorded a bitmap for the widened column
    assert all("id" in per_col for per_col in meta["files"].values())
    # probes at the declared type find rows in BOTH generations
    assert [r.id for r in read_table_bloom_pruned(spark, path, "id", 5).collect()] == [5]
    assert [
        r.id
        for r in read_table_bloom_pruned(spark, path, "id", 3_000_000_000).collect()
    ] == [3_000_000_000]


def test_bloom_recollect_after_widening_reprunes(spark, tmp_path):
    """After the widening dropped a column's bitmaps, the next
    collect_blooms re-hashes the affected files at the declared type,
    restoring pruning with correct results."""
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(5,), (6,)], "id int"), path)
    collect_blooms(spark, path, ["id"])
    alter_column_type(spark, path, "id", "bigint")
    collect_blooms(spark, path, ["id"])
    m = _read_manifest(spark, path, latest_version(spark, path))
    meta = _load_blooms(spark, m)
    assert all("id" in per_col for per_col in meta["files"].values())
    assert [r.id for r in read_table_bloom_pruned(spark, path, "id", 6).collect()] == [6]


# ------------------------------------------------- stream vs widening


def test_stream_refuses_widening_past_start_schema(spark, tmp_path):
    """The r14 ADVICE medium (stream): a stream started BEFORE a
    widening keeps its start-time (narrow) schema; post-widening
    appends can carry out-of-range values, so the reader must surface
    'schema changed, restart the stream' instead of mangling values
    deep in the partition read. A stream started AFTER the widening
    (wide start-time schema) skips the commit as metadata-only."""
    import json as _json

    from pyspark.sql.types import StructType

    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "id int"), path)
    narrow = StructType.fromJson(
        _json.loads(_read_manifest(spark, path, 0)["schema"])
    )
    r = VersionedTableStreamReader(path, narrow, -1)
    r.partitions(r.initialOffset(), r.latestOffset())  # consume v0

    alter_column_type(spark, path, "id", "bigint")
    append_table(spark.createDataFrame([(3_000_000_000,)], "id long"), path)
    with pytest.raises(RuntimeError, match="restart the stream"):
        r.partitions({"version": 0}, r.latestOffset())

    # rate-limited (paced) path refuses too — it classifies versions
    # in latestOffset itself
    r2 = VersionedTableStreamReader(path, narrow, 0, max_files=1)
    with pytest.raises(RuntimeError, match="restart the stream"):
        for _ in range(5):
            end = r2.latestOffset()
            r2.partitions(r2.initialOffset(), end)

    # a fresh stream with the CURRENT (wide) schema walks straight
    # through the widening commit and reads the new data
    cur = latest_version(spark, path)
    wide = StructType.fromJson(
        _json.loads(_read_manifest(spark, path, cur)["schema"])
    )
    r3 = VersionedTableStreamReader(path, wide, -1)
    parts = r3.partitions(r3.initialOffset(), r3.latestOffset())
    assert parts  # v0's file + the post-widening append's file


# ---------------------------------------- identity fill vs supplied


def test_identity_fill_avoids_supplied_value_collision(spark):
    """The r14 ADVICE low: a MERGE batch on a BY DEFAULT identity
    table may SUPPLY values on its inserted rows while other inserted
    rows carry null (engine-allocates). Allocation now bases at the
    extreme of (water mark, batch-supplied extreme) in the step
    direction, so a supplied value inside the old allocation range can
    no longer collide."""
    df = spark.createDataFrame(
        [(None, "a"), (12, "b"), (None, "c"), (None, "d")],
        "rid long, v string",
    )
    out = _assign_identity(
        df, {"rid": {"high": 10, "step": 1}}, fill_nulls=True
    )
    rows = {r.v: r.rid for r in out.collect()}
    assert rows["b"] == 12  # supplied value kept
    allocated = [rows[k] for k in ("a", "c", "d")]
    assert len(set(rows.values())) == 4  # no collisions at all
    assert all(a > 12 for a in allocated)  # based past the supplied extreme

    # negative-step mirror: descending allocation bases at min(supplied)
    df2 = spark.createDataFrame(
        [(None, "a"), (-50, "b"), (None, "c")], "rid long, v string"
    )
    out2 = _assign_identity(
        df2, {"rid": {"high": -10, "step": -1}}, fill_nulls=True
    )
    rows2 = {r.v: r.rid for r in out2.collect()}
    assert rows2["b"] == -50
    assert all(rows2[k] < -50 for k in ("a", "c"))
    assert len(set(rows2.values())) == 3


# ------------------------------------------------- dv_counts carries


def test_append_carries_dv_counts(spark, tmp_path):
    """The r14 ADVICE low: plain appends carried dv but dropped
    dv_counts, silently degrading purge_deletion_vectors' deleted-
    fraction heuristic after any append."""
    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(i,) for i in range(10)], "x long"), path
    )
    delete_from_table(spark, path, "x < 3", mode="merge_on_read")
    counts = _read_manifest(spark, path, 1)["dv_counts"]
    assert sum(counts.values()) == 3
    append_table(spark.createDataFrame([(100,)], "x long"), path)
    m = _read_manifest(spark, path, 2)
    assert m.get("dv") and m["dv_counts"] == counts
    assert sorted(r.x for r in read_table(spark, path).collect()) == [
        3, 4, 5, 6, 7, 8, 9, 100,
    ]


def test_append_rebase_carries_dv_counts(spark, tmp_path):
    """The rebase path's tip-copy now includes dv_counts: an append
    losing the race to a winner on a MoR-deleted table keeps the
    per-file deleted-row tallies in its rebased manifest."""
    import wnv_etl_lab2_spark.sources.versioned as V

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(i,) for i in range(10)], "x long"), path
    )
    delete_from_table(spark, path, "x < 3", mode="merge_on_read")
    counts = _read_manifest(spark, path, 1)["dv_counts"]
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "append" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                append_table(spark.createDataFrame([(200,)], "x long"), path)
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        v = append_table(spark.createDataFrame([(300,)], "x long"), path)
    finally:
        V._commit = real_commit
    assert v == 3  # rebased, not re-run
    m = _read_manifest(spark, path, 3)
    assert m["dv_counts"] == counts
    assert sorted(r.x for r in read_table(spark, path).collect()) == [
        3, 4, 5, 6, 7, 8, 9, 200, 300,
    ]


# every SAME-FILES commit: {name: verb(spark, table, mor_version)}
_SAME_FILES_VERBS = {
    "add_check_constraint": lambda sp, t, v: add_check_constraint(
        sp, t, "pos", "id >= 0"
    ),
    "drop_check_constraint": lambda sp, t, v: drop_check_constraint(sp, t, "pos"),
    "set_not_null": lambda sp, t, v: set_not_null(sp, t, "id"),
    "drop_not_null": lambda sp, t, v: drop_not_null(sp, t, "id"),
    "collect_stats": lambda sp, t, v: collect_stats(sp, t, ["id"]),
    "collect_blooms": lambda sp, t, v: collect_blooms(sp, t, ["id"]),
    "restore_table": lambda sp, t, v: restore_table(sp, t, v),
    "shallow_clone": lambda sp, t, v: clone_table(sp, t, t + "_clone"),
}


@pytest.mark.parametrize("verb", sorted(_SAME_FILES_VERBS))
def test_same_files_commit_keeps_dv_counts_for_row_count(spark, tmp_path, verb):
    """Every SAME-FILES commit inherits the per-file metadata class,
    dv_counts included: a later touched-files DELETE of a file with
    deleted positions subtracts them, so DESCRIBE DETAIL's row count
    stays the snapshot's (a verb dropping dv_counts left 89 vs 91)."""
    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(i, i % 4) for i in range(100)], "id long, p long"
        ),
        path,
        partition_by=["p"],
    )
    if verb == "drop_check_constraint":
        add_check_constraint(spark, path, "pos", "id >= 0")
    if verb == "drop_not_null":
        set_not_null(spark, path, "id")
    v = delete_from_table(spark, path, "id < 8", mode="merge_on_read")
    counts = _read_manifest(spark, path, v)["dv_counts"]
    _SAME_FILES_VERBS[verb](spark, path, v)
    target = path + "_clone" if verb == "shallow_clone" else path
    tip = _read_manifest(spark, target, latest_version(spark, target))
    delete_from_table(spark, target, "id = 9")  # rewrites p=1 only
    n = read_table(spark, target).count()
    assert n == 91
    assert table_detail(spark, target).collect()[0]["num_rows"] == n
    assert tip.get("dv_counts") == counts


# ------------------------------------------------- in-place adoption


def _walk_parquet(root: str) -> list[str]:
    import os

    return sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(root)
        for f in fs
        if f.endswith(".parquet") and "_log" not in r and "_dv" not in r
    )


def test_convert_adopts_parquet_dir_zero_copy(spark, tmp_path):
    """r14 verdict "what's missing" #1: version 0 of a converted table
    is a manifest LISTING the pre-existing files — nothing rewritten,
    nothing moved; subsequent append/DML/time-travel all work."""
    from wnv_etl_lab2_spark.sources.versioned import convert_to_versioned

    raw = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, f"t{i}") for i in range(10)], "id long, tag string"
    ).repartition(2).write.parquet(raw)
    pre = _walk_parquet(raw)

    assert convert_to_versioned(spark, raw, stats_cols=["id"]) == 0
    m = _read_manifest(spark, raw, 0)
    assert m["op"] == "convert" and m["n_rows"] == 10
    assert sorted(f.replace("file:", "") for f in m["files"]) == pre
    assert _walk_parquet(raw) == pre  # zero data files written
    assert m["stats"]  # footer min/max collected at adoption

    # ordinary table life on the adopted files
    assert read_table(spark, raw).count() == 10
    append_table(spark.createDataFrame([(100, "x")], "id long, tag string"), raw)
    delete_from_table(spark, raw, "id < 2", mode="merge_on_read")
    assert sorted(r.id for r in read_table(spark, raw).collect()) == [
        2, 3, 4, 5, 6, 7, 8, 9, 100,
    ]
    assert read_table(spark, raw, 0).count() == 10  # time travel to v0


def test_convert_discovers_hive_partitions(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import convert_to_versioned

    raw = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, i % 3) for i in range(12)], "id long, p int"
    ).write.partitionBy("p").parquet(raw)
    convert_to_versioned(spark, raw)
    m = _read_manifest(spark, raw, 0)
    assert m["partition_by"] == ["p"]
    df = read_table(spark, raw)
    assert df.count() == 12 and set(df.columns) == {"id", "p"}
    assert df.schema["p"].dataType.simpleString() == "int"
    # file-level pruning through the adopted hive paths
    assert read_table(spark, raw, partition_filter={"p": 1}).count() == 4


def test_convert_refusals(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import convert_to_versioned

    raw = str(tmp_path / "raw")
    spark.createDataFrame([(1, 0)], "id long, p int").write.partitionBy(
        "p"
    ).parquet(raw)
    # declared layout must match the discovered one — BEFORE committing
    with pytest.raises(ValueError, match="does not match"):
        convert_to_versioned(spark, raw, partition_by=["wrong"])
    assert latest_version(spark, raw) is None  # refusal committed nothing
    convert_to_versioned(spark, raw)
    with pytest.raises(ValueError, match="already a versioned table"):
        convert_to_versioned(spark, raw)
    empty = str(tmp_path / "empty")
    import os

    os.makedirs(empty)
    with pytest.raises(ValueError, match="no parquet files"):
        convert_to_versioned(spark, empty)
    with pytest.raises(ValueError, match="no such directory"):
        convert_to_versioned(spark, str(tmp_path / "nope"))


def test_convert_sql_verb_and_stream(spark, tmp_path):
    import json as _json

    from pyspark.sql.types import StructType

    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    raw = str(tmp_path / "raw")
    spark.createDataFrame(
        [(i, i % 2) for i in range(8)], "id long, p int"
    ).write.partitionBy("p").parquet(raw)
    assert (
        DeltaSql(spark, {}).run(
            f"CONVERT TO VERSIONED parquet.`{raw}` PARTITIONED BY (p)"
        )
        == 0
    )
    m = _read_manifest(spark, raw, 0)
    assert m["op"] == "convert" and m["partition_by"] == ["p"]
    # the registered-name form, and layout assertion through SQL
    raw2 = str(tmp_path / "raw2")
    spark.createDataFrame([(1,)], "x long").write.parquet(raw2)
    assert DeltaSql(spark, {"t2": raw2}).run("CONVERT TO VERSIONED t2") == 0

    # a stream started at -1 replays the adopted v0 files like a create
    sch = StructType.fromJson(_json.loads(m["schema"]))
    r = VersionedTableStreamReader(raw, sch, -1)
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    assert len(parts) >= 2
    append_table(spark.createDataFrame([(50, 1)], "id long, p int"), raw)
    parts2 = r.partitions({"version": 0}, r.latestOffset())
    assert len(parts2) == 1  # incremental: only the appended file


def test_vacuum_never_collects_adopted_files(spark, tmp_path):
    """Adopted files live OUTSIDE data/ — the engine's garbage pass
    must never delete files it did not write, even after a rewrite
    drops the last manifest reference to them."""
    from wnv_etl_lab2_spark.sources.versioned import (
        convert_to_versioned,
        overwrite_table,
        vacuum_table,
    )

    raw = str(tmp_path / "raw")
    spark.createDataFrame([(i,) for i in range(6)], "id long").write.parquet(raw)
    pre = _walk_parquet(raw)
    convert_to_versioned(spark, raw)
    overwrite_table(spark.createDataFrame([(99,)], "id long"), raw)
    vacuum_table(spark, raw, keep_last=1, retain_hours=0)
    assert [f for f in _walk_parquet(raw) if "/data/" not in f] == pre
    assert [r.id for r in read_table(spark, raw).collect()] == [99]


# ------------------------------------------------- column DEFAULTs


def test_set_default_is_metadata_only_and_round_trips(spark, tmp_path):
    """r14 verdict "what's missing" #2: SET DEFAULT is a manifest-only
    commit behind the column_defaults feature stamp; SHOW CREATE emits
    the clause and the emitted DDL re-parses to the same declaration."""
    from wnv_etl_lab2_spark.sources.versioned import (
        column_defaults,
        show_create_table,
    )

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (id BIGINT, lang STRING, score DOUBLE)")
    files0 = _read_manifest(spark, path, 0)["files"]
    sql.run("ALTER TABLE t ALTER COLUMN lang SET DEFAULT 'und'")
    m = _read_manifest(spark, path, 1)
    assert m["op"] == "set_default" and m["files"] == files0
    assert "column_defaults" in m["features"]
    assert column_defaults(spark, path) == {"lang": "'und'"}

    stmt = show_create_table(spark, path, name="t2")
    assert "DEFAULT 'und'" in stmt
    path2 = str(tmp_path / "t2")
    DeltaSql(spark, {"t2": path2}).run(stmt.split(";\n")[0])
    assert column_defaults(spark, path2) == {"lang": "'und'"}

    sql.run("ALTER TABLE t ALTER COLUMN lang DROP DEFAULT")
    assert column_defaults(spark, path) == {}
    m2 = _read_manifest(spark, path, 2)
    assert m2["op"] == "drop_default"
    assert "column_defaults" not in m2.get("features", [])


def test_insert_column_list_fills_defaults(spark, tmp_path):
    """Beside the r14 null-fill pins: where a DEFAULT is declared it
    takes precedence over the null fill — in INSERT INTO (the column
    is now materialized at write-expansion) and INSERT OVERWRITE."""
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (a INT, b STRING, c DOUBLE)")
    sql.run("ALTER TABLE t ALTER COLUMN b SET DEFAULT 'pending'")
    sql.run("INSERT INTO t (a) VALUES (1)")
    row = read_table(spark, path).collect()[0]
    assert (row.a, row.b, row.c) == (1, "pending", None)

    sql.run("INSERT OVERWRITE t (a) VALUES (42)")
    row = read_table(spark, path).collect()[0]
    assert (row.a, row.b, row.c) == (42, "pending", None)

    # DROP DEFAULT reverts to the r14 null-fill behavior
    sql.run("ALTER TABLE t ALTER COLUMN b DROP DEFAULT")
    sql.run("INSERT INTO t (a) VALUES (7)")
    rows = {r.a: r for r in read_table(spark, path).collect()}
    assert rows[7].b is None and rows[42].b == "pending"


def test_merge_insert_fills_defaults(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import merge_into_table

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (k BIGINT, n BIGINT, status STRING)")
    sql.run("ALTER TABLE t ALTER COLUMN status SET DEFAULT 'new'")
    append_table(
        spark.createDataFrame([(1, 10, "old")], "k long, n long, status string"),
        path,
    )
    # explicit INSERT payload omitting the defaulted column
    src = spark.createDataFrame([(1, 99), (2, 20)], "k long, n long")
    merge_into_table(
        spark, path, src, on="t.k = s.k",
        matched=[(None, "update", {"n": "s.n"})],
        not_matched=[(None, {"k": "s.k", "n": "s.n"})],
    )
    rows = {r.k: r for r in read_table(spark, path).collect()}
    assert rows[1].status == "old"  # updates never touch defaults
    assert rows[2].status == "new"  # inserted row got the default
    # INSERT * with the source missing the column entirely
    src2 = spark.createDataFrame([(3, 30)], "k long, n long")
    merge_into_table(
        spark, path, src2, on="t.k = s.k", not_matched=[(None, "*")]
    )
    rows = {r.k: r for r in read_table(spark, path).collect()}
    assert rows[3].status == "new"


def test_copy_into_fills_defaults(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import copy_into

    land = str(tmp_path / "landing")
    spark.createDataFrame([(1,), (2,)], "id long").coalesce(1).write.parquet(land)
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (id BIGINT, src STRING)")
    sql.run("ALTER TABLE t ALTER COLUMN src SET DEFAULT 'landing'")
    out = copy_into(spark, path, land, file_format="parquet")
    assert out["rows_loaded"] == 2
    assert {r.src for r in read_table(spark, path).collect()} == {"landing"}


def test_default_declaration_refusals(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import (
        drop_column_default,
        set_column_default,
    )

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, "
        "n BIGINT, d BIGINT GENERATED ALWAYS AS (n * 2), s STRING)"
    )
    with pytest.raises(ValueError, match="constant"):
        set_column_default(spark, path, "s", "n + 1")  # column reference
    with pytest.raises(ValueError, match="constant"):
        set_column_default(spark, path, "n", "'abc'")  # uncastable (ANSI)
    with pytest.raises(ValueError, match="no such column"):
        set_column_default(spark, path, "zz", "1")
    with pytest.raises(ValueError, match="GENERATED"):
        set_column_default(spark, path, "d", "1")
    with pytest.raises(ValueError, match="IDENTITY"):
        set_column_default(spark, path, "rid", "1")
    with pytest.raises(ValueError, match="no declared DEFAULT"):
        drop_column_default(spark, path, "s")


def test_create_table_declares_defaults_in_one_commit(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import column_defaults

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run(
        "CREATE TABLE t (id BIGINT NOT NULL, lang STRING DEFAULT 'und', "
        "score DOUBLE DEFAULT 0.0)"
    )
    assert latest_version(spark, path) == 0  # ONE commit
    assert column_defaults(spark, path) == {
        "lang": "'und'",
        "score": "0.0",
    }
    sql.run("INSERT INTO t (id) VALUES (5)")
    row = read_table(spark, path).collect()[0]
    assert (row.id, row.lang, row.score) == (5, "und", 0.0)


def test_update_set_default_resolves_declared_expression(spark, tmp_path):
    """UPDATE ... SET col = DEFAULT (the standard-SQL spelling):
    resolves to the declared default at statement time; a column
    without one refuses."""
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (id BIGINT, s STRING DEFAULT 'fresh')")
    sql.run("INSERT INTO t VALUES (1, 'stale'), (2, 'keep')")
    sql.run("UPDATE t SET s = DEFAULT WHERE id = 1")
    rows = {r.id: r.s for r in read_table(spark, path).collect()}
    assert rows == {1: "fresh", 2: "keep"}
    with pytest.raises(ValueError, match="no declared DEFAULT"):
        sql.run("UPDATE t SET id = DEFAULT WHERE s = 'keep'")


def test_defaults_follow_column_ddl(spark, tmp_path):
    """Self-review pins: a dropped column's DEFAULT goes with it (and
    cannot resurrect on re-add), a renamed column's DEFAULT follows the
    new name, and a full rewrite that drops the column prunes the
    declaration."""
    from wnv_etl_lab2_spark.sources.versioned import (
        add_column,
        column_defaults,
        drop_column,
        overwrite_table,
        rename_column,
    )

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (id BIGINT, s STRING DEFAULT 'x', u STRING DEFAULT 'y')")

    rename_column(spark, path, "s", "s2")
    assert column_defaults(spark, path) == {"s2": "'x'", "u": "'y'"}
    sql.run("INSERT INTO t (id) VALUES (1)")
    row = read_table(spark, path).collect()[0]
    assert (row.s2, row.u) == ("x", "y")

    drop_column(spark, path, "s2")  # metadata drop
    assert column_defaults(spark, path) == {"u": "'y'"}
    add_column(spark, path, "s2", "string")  # re-add: no resurrection
    assert column_defaults(spark, path) == {"u": "'y'"}
    sql.run("INSERT INTO t (id) VALUES (2)")
    rows = {r.id: r for r in read_table(spark, path).collect()}
    assert rows[2].s2 is None and rows[2].u == "y"

    # a full rewrite that drops the defaulted column prunes it
    overwrite_table(spark.createDataFrame([(9,)], "id long"), path)
    assert column_defaults(spark, path) == {}


def test_train_unigram_refuses_empty_corpus(spark):
    from wnv_etl_lab2_spark.operators.unigram import train_unigram

    empty = spark.createDataFrame([], "doc_id long, text string")
    with pytest.raises(ValueError, match="empty corpus"):
        train_unigram(empty)


# ------------------------------------------------------------- fsck


def _delete_one_partition_file(path: str, needle: str = "p=0") -> list[str]:
    """Out-of-band delete of every data file in ONE hive partition."""
    import os

    victims = []
    for r, _, fnames in os.walk(os.path.join(path, "data")):
        for f in fnames:
            full = os.path.join(r, f)
            if f.endswith(".parquet") and needle in full:
                victims.append(full)
    for v in victims:
        os.remove(v)
    return victims


def test_fsck_repairs_out_of_band_deletions(spark, tmp_path):
    """FSCK REPAIR TABLE: a table whose data files vanished out-of-band
    becomes readable again, keeping exactly the surviving rows; the
    repaired manifest drops the lost files' per-file metadata and the
    loss is recorded (fsck_removed). Dry run reports without
    committing."""
    from wnv_etl_lab2_spark.sources.versioned import fsck_repair_table

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(i, i % 2) for i in range(10)], "id long, p int"
        ),
        path,
        partition_by=["p"],
        stats_cols=["id"],
    )
    # healthy table: fsck is a no-op in both modes
    assert fsck_repair_table(spark, path, dry_run=True)["missing"] == []
    assert fsck_repair_table(spark, path)["version"] is None
    assert latest_version(spark, path) == 0

    victims = _delete_one_partition_file(path)
    assert victims  # the out-of-band loss actually happened
    with pytest.raises(Exception):
        read_table(spark, path).count()  # broken: scan hits missing files

    rep = fsck_repair_table(spark, path, dry_run=True)
    assert rep["version"] is None and rep["missing"]
    assert latest_version(spark, path) == 0  # dry run committed nothing

    rep = fsck_repair_table(spark, path)
    assert rep["version"] == 1
    got = sorted((r.id, r.p) for r in read_table(spark, path).collect())
    assert len(got) == rep["n_rows"] > 0
    assert len({p for _, p in got}) == 1  # one whole partition is gone
    m = _read_manifest(spark, path, 1)
    assert sorted(m["fsck_removed"]) == sorted(
        f for f in m.get("fsck_removed", [])
    )
    live = set(m["files"])
    assert all(f in live for f in m.get("stats", {}))  # lost stats dropped
    # ordinary table life continues on the repaired snapshot
    append_table(spark.createDataFrame([(100, 0)], "id long, p int"), path)
    assert read_table(spark, path).count() == rep["n_rows"] + 1


def test_fsck_sql_verb_and_stream_refusal(spark, tmp_path):
    import json as _json

    from pyspark.sql.types import StructType

    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamReader,
    )

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (id BIGINT, p INT) PARTITIONED BY (p)")
    sql.run("INSERT INTO t VALUES (1, 0), (2, 1), (3, 0), (4, 1)")
    schema = StructType.fromJson(
        _json.loads(_read_manifest(spark, path, 1)["schema"])
    )
    _delete_one_partition_file(path)
    row = sql.run("FSCK REPAIR TABLE t DRY RUN").collect()[0]
    assert row.n_missing > 0 and row.version is None
    row = sql.run("FSCK REPAIR TABLE t").collect()[0]
    assert row.version == 2 and row.n_rows == 2

    # a stream crossing the fsck version refuses explicitly in both
    # modes — the retraction rows' files are gone
    r = VersionedTableStreamReader(path, schema, -1)
    with pytest.raises(RuntimeError, match="FSCK repair"):
        r.partitions(r.initialOffset(), {"version": 2})
    cdf_schema = schema.add("_change_type", "string").add(
        "_commit_version", "long"
    )
    r2 = VersionedTableStreamReader(path, cdf_schema, -1, cdf=True)
    with pytest.raises(RuntimeError, match="FSCK repair"):
        r2.partitions(r2.initialOffset(), {"version": 2})
    # a stream started AT the repaired tip reads new appends normally
    r3 = VersionedTableStreamReader(path, schema, 2)
    sql.run("INSERT INTO t VALUES (9, 0)")
    assert len(r3.partitions(r3.initialOffset(), r3.latestOffset())) == 1


def test_fsck_triages_sidecar_losses(spark, tmp_path):
    """A lost bloom sidecar is shed by the repair (pruning metadata
    only); a lost deletion-vector file REFUSES — dropping it would
    resurrect deleted rows."""
    import glob
    import os

    from wnv_etl_lab2_spark.sources.versioned import (
        fsck_repair_table,
        read_table_bloom_pruned,
    )

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(i,) for i in range(8)], "id long"), path
    )
    collect_blooms(spark, path, ["id"])
    for f in glob.glob(os.path.join(path, "_blooms", "*", "*.parquet")):
        os.remove(f)
    with pytest.raises(Exception):
        read_table_bloom_pruned(spark, path, "id", 3).collect()
    rep = fsck_repair_table(spark, path)
    assert rep["version"] is not None and rep["missing"] == []
    m = _read_manifest(spark, path, rep["version"])
    assert "blooms_ref" not in m and "blooms" not in m
    # probes fall back to scanning: correct results, no pruning
    assert [r.id for r in read_table_bloom_pruned(spark, path, "id", 3).collect()] == [3]

    dv = str(tmp_path / "dvt")
    create_table(
        spark.createDataFrame([(i,) for i in range(8)], "id long"), dv
    )
    delete_from_table(spark, dv, "id < 3", mode="merge_on_read")
    for f in glob.glob(os.path.join(dv, "_dv", "*", "*.parquet")):
        os.remove(f)
    with pytest.raises(ValueError, match="resurrect"):
        fsck_repair_table(spark, dv)


def test_converted_table_streams_end_to_end(spark, tmp_path):
    """Engine-level pin (not just the reader object): a plain parquet
    directory adopted via CONVERT feeds a real readStream with
    Trigger.AvailableNow — v0's adopted files replay as the first
    batch, a post-conversion append arrives on the next run, and the
    checkpoint carries offsets across runs exactly like any created
    table."""
    from wnv_etl_lab2_spark.sources.versioned import convert_to_versioned
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamSource,
    )

    spark.dataSource.register(VersionedTableStreamSource)
    raw = str(tmp_path / "raw")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(i, i % 2) for i in range(6)], "id long, p int"
    ).write.partitionBy("p").parquet(raw)
    convert_to_versioned(spark, raw)

    got: list[int] = []

    def run_available_now():
        q = (
            spark.readStream.format("versioned_table")
            .option("path", raw)
            .load()
            .writeStream.foreachBatch(
                lambda df, _b: got.extend(r.id for r in df.collect())
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_available_now()
    assert sorted(got) == [0, 1, 2, 3, 4, 5]  # the adopted v0 files

    append_table(spark.createDataFrame([(50, 1)], "id long, p int"), raw)
    got.clear()
    run_available_now()
    assert got == [50]  # incremental: only the appended file
