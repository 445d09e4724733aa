"""Round-14 lakehouse-protocol features (r13 verdict asks #2-#5 and
the r13 ADVICE fixes): manifest feature gates, metadata-only type
widening, CREATE OR REPLACE TABLE + DEEP CLONE, GENERATED ALWAYS vs
BY DEFAULT identity semantics, negative identity steps, the INSERT
OVERWRITE column-list null-fill, and copy_into's (path, size) ledger
identity."""

from __future__ import annotations

import glob
import json
import os

import pytest

from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
from wnv_etl_lab2_spark.sources.table_manifest import (
    DECLARATIONS,
    FILE_LIST,
    FILE_METADATA,
    SUPPORTED_FEATURES,
)
from wnv_etl_lab2_spark.sources.versioned import (
    _FEATURE_KEYS,
    _read_manifest,
    alter_column_type,
    append_table,
    clone_table,
    column_defaults,
    create_table,
    latest_version,
    read_table,
    replace_table,
    set_column_default,
    table_schema,
    vacuum_table,
)


def _tamper_features(table_path: str, feats: list[str]) -> None:
    """Rewrite the tip manifest's features list in place (simulating a
    future writer), clearing Hadoop's local-FS checksum sidecar so the
    read exercises the FEATURE gate, not the CRC."""
    logs = sorted(glob.glob(table_path + "/_log/0*.json"))
    m = json.loads(open(logs[-1]).read())
    m["features"] = feats
    open(logs[-1], "w").write(json.dumps(m))
    for crc in glob.glob(table_path + "/_log/.*.crc"):
        os.remove(crc)


# --------------------------------------------------------------- features


def test_feature_gate_stamped_only_when_used(spark, tmp_path):
    plain = str(tmp_path / "plain")
    create_table(spark.createDataFrame([(1,)], "x long"), plain)
    assert "features" not in _read_manifest(spark, plain, 0)

    part = str(tmp_path / "part")
    create_table(
        spark.createDataFrame([(1, "a")], "x long, p string"),
        part,
        partition_by=["p"],
    )
    assert _read_manifest(spark, part, 0)["features"] == ["partitioning"]

    gen = str(tmp_path / "gen")
    create_table(
        spark.createDataFrame([(1,)], "x long"),
        gen,
        generated={"d": "x * 2"},
    )
    # generated auto-registers its CHECK invariant, so both stamp
    assert _read_manifest(spark, gen, 0)["features"] == [
        "check_constraints",
        "generated_columns",
    ]


def test_feature_gate_refuses_unknown_required_feature(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "x long"), path)
    _tamper_features(path, ["quantum_compression"])
    with pytest.raises(ValueError, match="quantum_compression"):
        read_table(spark, path)


def test_feature_gate_legacy_manifest_reads(spark, tmp_path):
    """A manifest with NO features field (legacy / feature-free) reads
    exactly as before the gate existed."""
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,), (2,)], "x long"), path)
    m = _read_manifest(spark, path, 0)
    assert "features" not in m
    assert read_table(spark, path).count() == 2
    # a KNOWN feature list also reads
    _tamper_features(path, sorted(SUPPORTED_FEATURES)[:2])
    assert read_table(spark, path).count() == 2


# --------------------------------------------------------------- widening


def test_every_feature_key_has_one_inheritance_class():
    """A protocol key is inherited by one rule (`table_manifest`): every
    key that gates a table feature belongs to exactly one of the
    declaration, per-file metadata and file-list classes, so a new key
    cannot land without deciding how commits inherit it."""
    classes = (DECLARATIONS, FILE_METADATA, FILE_LIST)
    keys = [k for ks, _ in _FEATURE_KEYS for k in ks]
    assert keys
    for k in keys:
        assert sum(k in c for c in classes) == 1, k
    every = [k for c in classes for k in c]
    assert len(every) == len(set(every))


def test_type_widening_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, 1.5), (2, 2.5)], "id int, score float"),
        path,
    )
    files0 = _read_manifest(spark, path, 0)["files"]
    v = alter_column_type(spark, path, "id", "bigint")
    alter_column_type(spark, path, "score", "double")
    m = _read_manifest(spark, path, latest_version(spark, path))
    assert m["files"] == files0  # zero data files touched
    assert "type_widening" in m["features"]
    assert m["widened"] == {"id": "int", "score": "float"}
    assert v == 1

    # mixed-generation read: old int32 files + a new int64 file
    append_table(
        spark.createDataFrame([(3_000_000_000, 9.25)], "id long, score double"),
        path,
    )
    got = sorted((r.id, r.score) for r in read_table(spark, path).collect())
    assert got == [(1, 1.5), (2, 2.5), (3_000_000_000, 9.25)]

    # a still-narrow append up-casts in-plan instead of raising
    append_table(
        spark.createDataFrame([(7, 1.0)], "id int, score float"), path
    )
    assert read_table(spark, path).where("id = 7").count() == 1

    # time travel reads v0 under its ORIGINAL types
    assert table_schema(spark, path, 0).simpleString() == (
        "struct<id:int,score:float>"
    )
    assert table_schema(spark, path).simpleString() == (
        "struct<id:bigint,score:double>"
    )


def test_type_widening_rejects_lossy_and_partition(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, "a", 1.0)], "id long, p string, v double"),
        path,
        partition_by=["p"],
    )
    with pytest.raises(ValueError, match="lossless"):
        alter_column_type(spark, path, "id", "int")  # narrowing
    with pytest.raises(ValueError, match="lossless"):
        alter_column_type(spark, path, "v", "string")  # lossy
    with pytest.raises(ValueError, match="partition"):
        alter_column_type(spark, path, "p", "string")
    with pytest.raises(ValueError, match="already"):
        alter_column_type(spark, path, "id", "bigint")


def test_type_widening_sql_verb_and_show_create(spark, tmp_path):
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (id INT, score FLOAT)")
    sql.run("INSERT INTO t VALUES (1, 1.5)")
    sql.run("ALTER TABLE t ALTER COLUMN id TYPE BIGINT")
    ddl = sql.run("SHOW CREATE TABLE t").collect()[0][0]
    assert "id BIGINT" in ddl
    # round-trip: the emitted DDL declares the widened type directly
    path2 = str(tmp_path / "t2")
    DeltaSql(spark, {"t": path2}).run(ddl)
    assert table_schema(spark, path2)["id"].dataType.simpleString() == "bigint"


def test_widened_survives_dml_and_normalizes_on_rewrite(spark, tmp_path):
    """Metadata DDL and appends CARRY the widened marker (old narrow
    files remain); a full rewrite (OPTIMIZE-style overwrite) writes
    every file at the declared type and DROPS it."""
    from wnv_etl_lab2_spark.sources.versioned import (
        add_column,
        optimize_table,
    )

    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,), (2,)], "id int"), path)
    alter_column_type(spark, path, "id", "bigint")
    append_table(spark.createDataFrame([(3,)], "id int"), path)
    add_column(spark, path, "note", "string")
    cur = latest_version(spark, path)
    assert _read_manifest(spark, path, cur)["widened"] == {"id": "int"}
    optimize_table(spark, path, target_files=1)
    cur = latest_version(spark, path)
    m = _read_manifest(spark, path, cur)
    assert "widened" not in m  # fresh files carry the declared type
    assert sorted(r.id for r in read_table(spark, path).collect()) == [1, 2, 3]


# ---------------------------------------------------------- replace/clone


def test_create_or_replace_is_one_atomic_commit(spark, tmp_path):
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1, "a")], "k int, v string"), path)
    v = replace_table(
        spark.createDataFrame([(2.5, True)], "x double, flag boolean"), path
    )
    assert v == 1  # exactly one new version: old-or-new, never absent
    assert table_schema(spark, path).simpleString() == (
        "struct<x:double,flag:boolean>"
    )
    # prior definition stays time-travelable
    assert read_table(spark, path, 0).collect()[0].v == "a"


def test_replace_does_not_carry_old_declarations(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import table_properties

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1,)], "x long"),
        path,
        generated={"d": "x * 2"},
        properties={"owner": "old"},
    )
    replace_table(spark.createDataFrame([(5, 7)], "x long, d long"), path)
    m = _read_manifest(spark, path, 1)
    assert "generated" not in m and "constraints" not in m
    assert table_properties(spark, path) == {}
    # d is now a PLAIN column: a disagreeing value commits fine
    append_table(spark.createDataFrame([(1, 999)], "x long, d long"), path)
    assert read_table(spark, path).where("d = 999").count() == 1


def test_create_or_replace_sql_forms(spark, tmp_path):
    src = str(tmp_path / "src")
    create_table(spark.createDataFrame([(i,) for i in range(5)], "n long"), src)
    tgt = str(tmp_path / "tgt")
    sql = DeltaSql(spark, {"src": src, "tgt": tgt})
    sql.run("CREATE TABLE tgt AS SELECT n FROM src WHERE n < 2")
    sql.run("CREATE OR REPLACE TABLE tgt AS SELECT n * 10 AS n FROM src")
    assert sorted(r.n for r in read_table(spark, tgt).collect()) == [
        0, 10, 20, 30, 40,
    ]
    sql.run("CREATE OR REPLACE TABLE tgt (a INT, b STRING)")
    assert table_schema(spark, tgt).simpleString() == "struct<a:int,b:string>"
    sql.run("CREATE OR REPLACE TABLE tgt SHALLOW CLONE src")
    assert read_table(spark, tgt).count() == 5


def test_deep_clone_survives_source_vacuum(spark, tmp_path):
    """The r13 verdict's pinned requirement: vacuum the source down to
    zero retained old versions and the deep clone still reads."""
    from wnv_etl_lab2_spark.sources.versioned import overwrite_table

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    create_table(
        spark.createDataFrame([(i, f"r{i}") for i in range(20)], "n long, s string"),
        src,
        stats_cols=["n"],
    )
    append_table(spark.createDataFrame([(20, "r20")], "n long, s string"), src)
    clone_table(spark, src, dst, deep=True)
    m = _read_manifest(spark, dst, 0)
    # the clone owns its bytes: no file path points into the source
    assert all("/src/" not in f for f in m["files"])
    assert m.get("stats_cols") == ["n"] and m.get("stats")
    overwrite_table(spark.createDataFrame([(99, "z")], "n long, s string"), src)
    vacuum_table(spark, src, keep_last=1, retain_hours=0)
    assert read_table(spark, dst).count() == 21

    # contrast: a SHALLOW clone of the same (now-vacuumed) source
    # would have been broken — the documented caveat deep repairs


def test_deep_clone_carries_declarations_and_identity_mark(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    sql = DeltaSql(spark, {"src": src})
    sql.run(
        "CREATE TABLE src (rid BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)"
    )
    append_table(spark.createDataFrame([("a",), ("b",)], "v string"), src)
    set_column_default(spark, src, "v", "'x'")
    clone_table(spark, src, dst, deep=True)
    # column defaults are a declaration like the others
    assert column_defaults(spark, dst) == column_defaults(spark, src) == {
        "v": "'x'"
    }
    # allocation continues PAST the source's mark — no collisions
    append_table(spark.createDataFrame([("c",)], "v string"), dst)
    assert sorted(r.rid for r in read_table(spark, dst).collect()) == [1, 2, 3]
    # ALWAYS enforcement traveled too
    with pytest.raises(ValueError, match="ALWAYS"):
        append_table(
            spark.createDataFrame([(9, "x")], "rid long, v string"), dst
        )


def test_deep_clone_sql_verb(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    create_table(spark.createDataFrame([(1,), (2,)], "n long"), src)
    sql = DeltaSql(spark, {"src": src, "dst": dst})
    sql.run("CREATE TABLE dst DEEP CLONE src")
    assert read_table(spark, dst).count() == 2
    sql.run("CREATE OR REPLACE TABLE dst DEEP CLONE src VERSION AS OF 0")
    assert read_table(spark, dst).count() == 2


# ------------------------------------------------------- identity semantics


def test_identity_always_vs_by_default(spark, tmp_path):
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)")
    append_table(spark.createDataFrame([("a",)], "v string"), path)
    with pytest.raises(ValueError, match="ALWAYS"):
        append_table(
            spark.createDataFrame([(5, "x")], "rid long, v string"), path
        )
    with pytest.raises(ValueError, match="ALWAYS"):
        sql.run("INSERT INTO t (rid, v) VALUES (7, 'x')")
    ddl = sql.run("SHOW CREATE TABLE t").collect()[0][0]
    assert "GENERATED ALWAYS AS IDENTITY" in ddl

    path2 = str(tmp_path / "t2")
    sql2 = DeltaSql(spark, {"t": path2})
    sql2.run(
        "CREATE TABLE t (rid BIGINT GENERATED BY DEFAULT AS IDENTITY, v STRING)"
    )
    append_table(
        spark.createDataFrame([(50, "x")], "rid long, v string"), path2
    )
    append_table(spark.createDataFrame([("y",)], "v string"), path2)
    # supplied value advanced the mark: the allocation lands past 50
    assert sorted(r.rid for r in read_table(spark, path2).collect()) == [50, 51]
    ddl2 = sql2.run("SHOW CREATE TABLE t").collect()[0][0]
    assert "GENERATED BY DEFAULT AS IDENTITY" in ddl2
    # the emitted DDL round-trips with the same enforcement mode
    path3 = str(tmp_path / "t3")
    DeltaSql(spark, {"t": path3}).run(ddl2)
    append_table(spark.createDataFrame([(9, "z")], "rid long, v string"), path3)


def test_identity_negative_step_allocates_downward(spark, tmp_path):
    """r13 ADVICE high: with INCREMENT BY -n the water mark must track
    min(), not max() — otherwise every batch re-issues the same ids."""
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY "
        "(START WITH 100 INCREMENT BY -2), v STRING)"
    )
    append_table(spark.createDataFrame([("a",), ("b",)], "v string"), path)
    append_table(spark.createDataFrame([("c",)], "v string"), path)
    ids = sorted(r.rid for r in read_table(spark, path).collect())
    assert ids == [96, 98, 100]  # unique, descending across batches
    assert len(set(ids)) == 3


def test_identity_int_declaration_stays_appendable(spark, tmp_path):
    """r13 ADVICE medium: allocated values cast to the DECLARED type
    (INT here), so the append never trips the type-change check."""
    path = str(tmp_path / "t")
    DeltaSql(spark, {"t": path}).run(
        "CREATE TABLE t (rid INT GENERATED BY DEFAULT AS IDENTITY, v STRING)"
    )
    append_table(spark.createDataFrame([("a",)], "v string"), path)
    append_table(spark.createDataFrame([("b",)], "v string"), path)
    assert table_schema(spark, path)["rid"].dataType.simpleString() == "int"
    assert sorted(r.rid for r in read_table(spark, path).collect()) == [1, 2]


def test_generated_expression_casts_to_declared_type(spark, tmp_path):
    """r13 ADVICE medium: a generated expr whose inferred type differs
    from the declared column type casts to the declaration."""
    path = str(tmp_path / "t")
    DeltaSql(spark, {"t": path}).run(
        "CREATE TABLE t (n INT, d BIGINT GENERATED ALWAYS AS (n * 2))"
    )
    append_table(spark.createDataFrame([(3,)], "n int"), path)
    append_table(spark.createDataFrame([(4,)], "n int"), path)
    assert table_schema(spark, path)["d"].dataType.simpleString() == "bigint"
    assert {(r.n, r.d) for r in read_table(spark, path).collect()} == {
        (3, 6), (4, 8),
    }


# ----------------------------------------------------- INSERT OVERWRITE


def test_insert_overwrite_column_list_null_fills(spark, tmp_path):
    """r13 ADVICE medium: OVERWRITE with a partial column list keeps
    the FULL schema, null-filling unlisted plain columns instead of
    silently dropping them from the table."""
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (a INT, b STRING, c DOUBLE)")
    sql.run("INSERT INTO t VALUES (1, 'x', 1.5)")
    sql.run("INSERT OVERWRITE t (a) VALUES (42)")
    assert table_schema(spark, path).simpleString() == (
        "struct<a:int,b:string,c:double>"
    )
    row = read_table(spark, path).collect()[0]
    assert (row.a, row.b, row.c) == (42, None, None)


def test_insert_overwrite_column_list_leaves_derived_to_engine(spark, tmp_path):
    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, "
        "n INT, d BIGINT GENERATED ALWAYS AS (n * 2), note STRING)"
    )
    sql.run("INSERT INTO t (n) VALUES (1), (2)")
    sql.run("INSERT OVERWRITE t (n) VALUES (5)")
    row = read_table(spark, path).collect()[0]
    # identity re-allocated (not null-filled), generated recomputed,
    # plain unlisted column null-filled
    assert (row.n, row.d, row.note) == (5, 10, None)
    assert row.rid is not None


# ------------------------------------------------------------- copy_into


def test_copy_into_reloads_resized_file(spark, tmp_path):
    """r13 ADVICE low: ledger freshness keys on (path, size) — an
    in-place overwrite with different content re-qualifies."""
    import shutil

    from wnv_etl_lab2_spark.sources.versioned import copy_into

    land = str(tmp_path / "landing")
    tbl = str(tmp_path / "tbl")
    os.makedirs(land)
    spark.createDataFrame([(1,), (2,)], "x long").coalesce(1).write.parquet(
        land + "/w1"
    )
    part = glob.glob(land + "/w1/part-*.parquet")[0]
    shutil.copy(part, land + "/data.parquet")
    shutil.rmtree(land + "/w1")
    create_table(spark.createDataFrame([], "x long"), tbl)
    first = copy_into(spark, tbl, land)
    assert first["files_loaded"] == 1 and first["rows_loaded"] == 2
    assert copy_into(spark, tbl, land)["files_loaded"] == 0  # no-op re-run

    # overwrite the SAME path with different content (different size)
    spark.createDataFrame([(3,), (4,), (5,)], "x long").coalesce(
        1
    ).write.parquet(land + "/w2")
    part2 = glob.glob(land + "/w2/part-*.parquet")[0]
    os.remove(land + "/data.parquet")
    shutil.copy(part2, land + "/data.parquet")
    shutil.rmtree(land + "/w2")
    second = copy_into(spark, tbl, land)
    assert second["files_loaded"] == 1 and second["rows_loaded"] == 3
    assert copy_into(spark, tbl, land)["files_loaded"] == 0
    assert read_table(spark, tbl).count() == 5


# ------------------------------------------------------ MERGE interplay


def test_merge_allocates_identity_and_recomputes_generated(spark, tmp_path):
    """MERGE on an identity + generated table (round 14): inserted
    rows allocate identity at write (never null, no collisions),
    updated rows KEEP their identity, and generated columns recompute
    from their expressions for every surviving row — the gen_ CHECK
    invariant holds by construction instead of refusing the merge."""
    from wnv_etl_lab2_spark.sources.versioned import merge_into_table

    path = str(tmp_path / "t")
    DeltaSql(spark, {"t": path}).run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, "
        "k BIGINT, n BIGINT, d BIGINT GENERATED ALWAYS AS (n * 2))"
    )
    append_table(spark.createDataFrame([(1, 10), (2, 20)], "k long, n long"), path)
    rid_before = {
        r.k: r.rid for r in read_table(spark, path).collect()
    }
    src = spark.createDataFrame([(2, 99), (3, 30)], "k long, n long")
    merge_into_table(
        spark, path, src, on="t.k = s.k",
        matched=[(None, "update", {"n": "s.n"})],
        not_matched=[(None, {"k": "s.k", "n": "s.n"})],
    )
    rows = {r.k: r for r in read_table(spark, path).collect()}
    assert {(k, r.n, r.d) for k, r in rows.items()} == {
        (1, 10, 20), (2, 99, 198), (3, 30, 60),
    }
    # updated/kept rows keep their ids; the inserted row got a fresh one
    assert rows[1].rid == rid_before[1] and rows[2].rid == rid_before[2]
    rids = [r.rid for r in rows.values()]
    assert all(v is not None for v in rids) and len(set(rids)) == 3


def test_merge_refuses_assigning_always_identity_and_generated(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import merge_into_table

    path = str(tmp_path / "t")
    DeltaSql(spark, {"t": path}).run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, "
        "k BIGINT, n BIGINT, d BIGINT GENERATED ALWAYS AS (n * 2))"
    )
    append_table(spark.createDataFrame([(1, 10)], "k long, n long"), path)
    src = spark.createDataFrame([(1, 99)], "k long, n long")
    with pytest.raises(ValueError, match="IDENTITY"):
        merge_into_table(
            spark, path, src, on="t.k = s.k",
            not_matched=[(None, {"rid": "s.k", "k": "s.k", "n": "s.n"})],
        )
    with pytest.raises(ValueError, match="GENERATED column"):
        merge_into_table(
            spark, path, src, on="t.k = s.k",
            matched=[(None, "update", {"d": "1"})],
        )
    # * forms refuse only when the SOURCE carries the ALWAYS column
    src_with_rid = spark.createDataFrame(
        [(9, 1, 99)], "rid long, k long, n long"
    )
    with pytest.raises(ValueError, match="IDENTITY"):
        merge_into_table(
            spark, path, src_with_rid, on="t.k = s.k",
            matched=[(None, "update", "*")],
        )


def test_merge_star_update_keeps_identity(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import merge_into_table

    path = str(tmp_path / "t")
    DeltaSql(spark, {"t": path}).run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, "
        "k BIGINT, n BIGINT)"
    )
    append_table(spark.createDataFrame([(1, 10), (2, 20)], "k long, n long"), path)
    src = spark.createDataFrame([(2, 99)], "k long, n long")
    merge_into_table(
        spark, path, src, on="t.k = s.k", matched=[(None, "update", "*")]
    )
    rows = {r.k: r.rid for r in read_table(spark, path).collect()}
    assert rows[2] is not None and rows[1] is not None
    assert len(set(rows.values())) == 2


# ---------------------------------------------- write-write conflict matrix


def test_lost_append_race_rebases_without_rewriting_data(spark, tmp_path):
    """r13 verdict "what's missing" #6 (write-write conflict matrix),
    append row: an append losing the commit race to a compatible
    winner re-commits its ALREADY-WRITTEN files against the new tip —
    no batch rewrite, no garbage attempt dir."""
    import os

    import wnv_etl_lab2_spark.sources.versioned as V

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1,)], "x long"), path, stats_cols=["x"]
    )
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                append_table(
                    spark.createDataFrame([(100,)], "x long"), path
                )
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        v = append_table(spark.createDataFrame([(200,)], "x long"), path)
    finally:
        V._commit = real_commit
    assert v == 2  # rebased onto the competitor's tip, not re-run
    assert sorted(r.x for r in read_table(spark, path).collect()) == [
        1, 100, 200,
    ]
    m = _read_manifest(spark, path, 2)
    assert m["parent"] == 1 and m["n_rows"] == 3
    # the staged dir was RENAMED under the new version — every data
    # dir on disk is referenced by the final snapshot (no garbage)
    from wnv_etl_lab2_spark.sources.versioned import _resolve_files

    ref_dirs = {
        f.rsplit("/", 2)[-2] for f in _resolve_files(spark, path, 2)
    }
    disk_dirs = set(os.listdir(os.path.join(path, "data")))
    assert disk_dirs == ref_dirs
    assert all(d.startswith(("v0-", "v1-", "v2-")) for d in disk_dirs)
    # per-file stats cover the rebased files too (skipping stays
    # fresh); empty part files legitimately record no footer entry
    live = set(_resolve_files(spark, path, 2))
    assert set(m["stats"]) <= live
    assert any(f in m["stats"] and "/v2-" in f for f in live)


def test_lost_append_race_with_schema_conflict_falls_back(spark, tmp_path):
    """A winner that CHANGED declarations (ADD COLUMN) invalidates the
    staged batch's validation context: the rebase refuses and the
    ordinary with_retries closure re-run takes over (and succeeds,
    revalidating against the new schema)."""
    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.sources.versioned import add_column, with_retries

    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "x long"), path)
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "append" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                add_column(spark, path, "note", "string")
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        with pytest.raises(Exception):
            append_table(spark.createDataFrame([(200,)], "x long"), path)
        fired.clear()
        fired["x"] = True  # competitor already landed; plain retry now
        v = with_retries(
            lambda: append_table(
                spark.createDataFrame([(300,)], "x long"), path
            )
        )
    finally:
        V._commit = real_commit
    assert v == 2
    rows = {(r.x, r.note) for r in read_table(spark, path).collect()}
    assert rows == {(1, None), (300, None)}


def test_lost_append_race_on_identity_table_reruns(spark, tmp_path):
    """IDENTITY tables never rebase (the batch allocated from a stale
    water mark); the closure re-run re-allocates, so two racing
    appends still produce unique ids."""
    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.sources.versioned import with_retries

    path = str(tmp_path / "t")
    DeltaSql(spark, {"t": path}).run(
        "CREATE TABLE t (rid BIGINT GENERATED ALWAYS AS IDENTITY, v STRING)"
    )
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "append" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                append_table(spark.createDataFrame([("w",)], "v string"), path)
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        with_retries(
            lambda: append_table(
                spark.createDataFrame([("a",), ("b",)], "v string"), path
            )
        )
    finally:
        V._commit = real_commit
    ids = sorted(r.rid for r in read_table(spark, path).collect())
    assert len(ids) == 3 and len(set(ids)) == 3  # no collisions


# --------------------------------------------- widening x streaming / CDF


def test_stream_and_cdf_over_widened_table(spark, tmp_path):
    """A metadata-only ALTER COLUMN TYPE is data-neutral to consumers:
    the plain stream SKIPS it (instead of refusing a 'rewrite'), the
    batch CDF range spanning it replays only real changes, and rows
    appended after the widening flow through both paths."""
    from wnv_etl_lab2_spark.operators.cdf import table_changes
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamSource,
    )

    spark.dataSource.register(VersionedTableStreamSource)
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    create_table(spark.createDataFrame([(1,), (2,)], "x int"), tbl)
    alter_column_type(spark, tbl, "x", "bigint")           # v1 (metadata)
    append_table(spark.createDataFrame([(3_000_000_000,)], "x long"), tbl)

    got: list[int] = []
    q = (
        spark.readStream.format("versioned_table")
        .option("path", tbl)
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend(r.x for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert sorted(got) == [1, 2, 3_000_000_000]

    # keyed CDF diff across the widening version: only the append shows
    ch = table_changes(spark, tbl, "x", 0, 2)
    assert {(r.x, r._change_type) for r in ch.collect()} == {
        (3_000_000_000, "insert"),
    }


def test_partition_optimize_rebases_over_concurrent_append(spark, tmp_path):
    """Conflict-matrix row 2: a partition-scoped OPTIMIZE losing the
    commit race to a plain append re-commits against the new tip —
    the appended files survive, the compacted partition is compacted,
    row counts reconcile, and no attempt dir is orphaned."""
    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.sources.versioned import (
        _resolve_files,
        optimize_table,
    )

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "x long, p string"
        ).repartition(3),
        path,
        partition_by=["p"],
        stats_cols=["x"],
    )
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "optimize" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                append_table(
                    spark.createDataFrame([(9, "b")], "x long, p string"),
                    path,
                )
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        v = optimize_table(spark, path, partition_filter={"p": "a"})
    finally:
        V._commit = real_commit
    assert v == 2  # rebased onto the append's tip
    m = _read_manifest(spark, path, 2)
    assert m["n_rows"] == 4  # 3 original + the racing append's row
    rows = sorted((r.x, r.p) for r in read_table(spark, path).collect())
    assert rows == [(1, "a"), (2, "a"), (3, "b"), (9, "b")]
    # the appended file survived the rebase; the 'a' partition compacted
    live = _resolve_files(spark, path, 2)
    assert sum("p=a" in f for f in live) == 1
    assert len(m.get("stats", {})) >= 1  # stats re-keyed to live files


def test_partition_optimize_race_with_rewrite_falls_back(spark, tmp_path):
    """A racing winner that is NOT a plain append (a DELETE rewrote
    history) refuses the rebase; the with_retries closure re-runs and
    the re-run compacts the post-delete snapshot."""
    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.sources.versioned import (
        delete_from_table,
        optimize_table,
        with_retries,
    )

    path = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(1, "a"), (2, "a"), (3, "b")], "x long, p string"
        ).repartition(3),
        path,
        partition_by=["p"],
    )
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "optimize" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                delete_from_table(spark, path, "x = 2")
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        v = with_retries(
            lambda: optimize_table(spark, path, partition_filter={"p": "a"})
        )
    finally:
        V._commit = real_commit
    assert v == 2
    rows = sorted((r.x, r.p) for r in read_table(spark, path).collect())
    assert rows == [(1, "a"), (3, "b")]  # the delete was honored


# -------------------------------------------------- r14 self-review fixes


def test_rebase_refuses_same_writer_ledger_commits(spark, tmp_path):
    """Exactly-once guard: a batch_id-stamped append (the streaming
    sink) must NOT rebase past a same-writer winner — a zombie replay
    of an already-committed micro-batch would land twice. The rebase
    refuses; the closure re-run re-reads the ledger and skips."""
    import wnv_etl_lab2_spark.sources.versioned as V

    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "x long"), path)
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "append" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                # the twin attempt of the SAME micro-batch wins first
                append_table(
                    spark.createDataFrame([(42,)], "x long"), path,
                    batch_id=7, writer_id="sink-a",
                )
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        with pytest.raises(Exception):
            append_table(
                spark.createDataFrame([(42,)], "x long"), path,
                batch_id=7, writer_id="sink-a",
            )
    finally:
        V._commit = real_commit
    # exactly one copy of the batch landed
    assert [r.x for r in read_table(spark, path).where("x = 42").collect()] == [42]


def test_rebased_commit_stamps_fresh_timestamp(spark, tmp_path):
    """TIMESTAMP AS OF correctness: a rebased commit must be stamped
    when IT became visible — never with the failed attempt's earlier
    clock, which would order it before its predecessor."""
    import wnv_etl_lab2_spark.sources.versioned as V

    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "x long"), path)
    real_commit = V._commit
    fired = {}

    def racing_commit(sp, tp, version, manifest):
        if tp == path and manifest.get("op") == "append" and not fired:
            fired["x"] = True
            V._commit = real_commit
            try:
                import time

                time.sleep(0.05)
                append_table(spark.createDataFrame([(100,)], "x long"), path)
            finally:
                V._commit = racing_commit
        return real_commit(sp, tp, version, manifest)

    V._commit = racing_commit
    try:
        v = append_table(spark.createDataFrame([(200,)], "x long"), path)
    finally:
        V._commit = real_commit
    assert v == 2
    ts = [
        int(_read_manifest(spark, path, i)["ts_ms"]) for i in range(3)
    ]
    assert ts[1] <= ts[2], ts  # visibility order == timestamp order


def test_create_with_not_null_is_one_atomic_commit(spark, tmp_path):
    """NOT NULL column defs land IN the create/replace commit itself —
    no window where the table exists without its constraints."""
    from wnv_etl_lab2_spark.sources.versioned import table_constraints

    path = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": path})
    sql.run("CREATE TABLE t (a INT NOT NULL, b STRING NOT NULL, c DOUBLE)")
    assert latest_version(spark, path) == 0  # ONE commit, not three
    cons = table_constraints(spark, path, 0)
    assert cons == {"nn_a": "a IS NOT NULL", "nn_b": "b IS NOT NULL"}
    sch = table_schema(spark, path)
    assert not sch["a"].nullable and not sch["b"].nullable and sch["c"].nullable
    with pytest.raises(ValueError, match="nn_a"):
        sql.run("INSERT INTO t VALUES (NULL, 'x', 1.0)")
    sql.run("CREATE OR REPLACE TABLE t (z BIGINT NOT NULL)")
    assert latest_version(spark, path) == 1  # atomic redefinition
    assert table_constraints(spark, path) == {"nn_z": "z IS NOT NULL"}


def test_stream_source_enforces_feature_gate(spark, tmp_path):
    """The pure-Python stream reader refuses a snapshot requiring an
    unknown table feature, exactly like the JVM read path."""
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamSource,
        _py_read_manifest,
    )

    spark.dataSource.register(VersionedTableStreamSource)
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "x long"), path)
    _tamper_features(path, ["quantum_compression"])
    with pytest.raises(ValueError, match="quantum_compression"):
        _py_read_manifest(path, 0)


def test_available_now_works_after_history_vacuum(spark, tmp_path):
    """The availableNow capture must not walk vacuumed-away history:
    a table whose early manifests are gone still drains from a
    startingVersion inside the retained tail."""
    from wnv_etl_lab2_spark.sources.versioned import optimize_table
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamSource,
    )

    spark.dataSource.register(VersionedTableStreamSource)
    tbl = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    create_table(spark.createDataFrame([(0,)], "x long"), tbl)
    for i in range(1, 6):
        append_table(spark.createDataFrame([(i,)], "x long"), tbl)
    optimize_table(spark, tbl, target_files=1)  # v6 rewrites history
    vacuum_table(spark, tbl, keep_last=2, retain_hours=0)  # v0-4 gone
    got: list[int] = []
    q = (
        spark.readStream.format("versioned_table")
        .option("path", tbl)
        .option("availableNow", "true")
        .option("startingVersion", "6")
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend(r.x for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert got == []  # v6 consumed by startingVersion; nothing to drain
    append_table(spark.createDataFrame([(99,)], "x long"), tbl)
    q2 = (
        spark.readStream.format("versioned_table")
        .option("path", tbl)
        .option("availableNow", "true")
        .option("startingVersion", "6")
        .load()
        .writeStream.foreachBatch(
            lambda df, _b: got.extend(r.x for r in df.collect())
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q2.awaitTermination(120)
    assert got == [99]
