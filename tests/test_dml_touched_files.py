"""Touched-files-only DML rewrites (round 17, tested round 18): a
DELETE/UPDATE runs ONE witness scan that attributes matching rows to
their data files (`_find_touched_files`), rewrites exactly those files,
and carries every other file by reference with its stats/bloom/DV
bookkeeping (`_commit_partial_rewrite`) — O(touched) write IO instead of
O(snapshot), Delta's find-touched-files contract. These tests pin the
sharp edges the round-17 verdict listed as untested: kept-file
identity, DV interaction (no resurrection, doomed-file DV rows
dropped, kept-file DV rows carried), partition-scoped UPDATE with
generated-column recompute, empty-match DELETE as a metadata-only
version, constraint-violation rollback, CDF change files, and the
optimistic-concurrency check."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.operators.cdf import read_change_data
from wnv_etl_lab2_spark.sources.table_paths import file_key, manifest_path
from wnv_etl_lab2_spark.sources.versioned import (
    _commit_partial_rewrite,
    _read_manifest,
    _resolve_files,
    create_table,
    delete_from_table,
    latest_version,
    read_table,
    update_table,
)


def _mk4(spark, path, **kw):
    """4 files with DISJOINT id ranges (0-9 | 10-19 | 20-29 | 30-39)."""
    df = (
        spark.range(40)
        .selectExpr("id", "CAST(id AS DOUBLE) AS x")
        .repartitionByRange(4, "id")
    )
    create_table(df, path, **kw)


def _norm_files(spark, path, version):
    return {file_key(f) for f in _resolve_files(spark, path, version)}


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk4(spark, path)
    f0 = _norm_files(spark, path, 0)
    assert len(f0) == 4
    delete_from_table(spark, path, "id >= 35")  # matches 1 of 4 files
    f1 = _norm_files(spark, path, 1)
    # 3 original files carried by reference (identical paths), only the
    # touched file replaced
    assert len(f0 & f1) == 3
    m1 = _read_manifest(spark, path, 1)
    assert m1["op"] == "delete" and m1["n_rows"] == 35
    assert sorted(r.id for r in read_table(spark, path).collect()) == list(
        range(35)
    )


def test_delete_null_condition_keeps_rows_through_touched_path(spark, tmp_path):
    """SQL three-valued logic holds on the touched-files path: a
    NULL-valued condition keeps the row."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 50.0), (4, None)], "id INT, score DOUBLE"
    ).repartition(2, "id")
    create_table(df, path)
    delete_from_table(spark, path, "score >= 40")
    got = sorted(r.id for r in read_table(spark, path).collect())
    assert got == [1, 2, 4]  # NULL score rows kept, only id=3 deleted


def test_empty_match_delete_is_metadata_only(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk4(spark, path)
    f0 = _norm_files(spark, path, 0)
    v = delete_from_table(spark, path, "id > 1000")
    assert v == 1
    assert _norm_files(spark, path, 1) == f0  # identical file set
    m1 = _read_manifest(spark, path, 1)
    assert m1["n_rows"] == 40
    assert read_table(spark, path).count() == 40
    # a snapshot with no data file (an empty partitioned write): both
    # DELETE strategies commit an empty version
    empty = str(tmp_path / "empty")
    create_table(
        spark.createDataFrame([], "id long, p int"), empty, partition_by=["p"]
    )
    for mode in ("merge_on_read", "copy_on_write"):
        v = delete_from_table(spark, empty, "id = 1", mode=mode)
        assert _read_manifest(spark, empty, v)["n_rows"] == 0
    assert read_table(spark, empty).count() == 0


def test_dv_interaction_no_resurrection(spark, tmp_path):
    """MoR-deleted rows cannot resurrect through a touched-files CoW
    rewrite: the witness scan and the subset rewrite both read through
    the DV; doomed files' DV rows drop from the new sidecar, kept
    files' DV rows carry."""
    path = str(tmp_path / "t")
    _mk4(spark, path)
    # DV rows land on file1 (id=5) and file4 (id=35)
    delete_from_table(spark, path, "id = 5 OR id = 35", mode="merge_on_read")
    assert _read_manifest(spark, path, 1)["n_rows"] == 38
    # CoW delete touches ONLY file4 (matching live rows: 30-34, 36-39)
    delete_from_table(spark, path, "id >= 30")
    m2 = _read_manifest(spark, path, 2)
    assert m2["n_rows"] == 29
    got = sorted(r.id for r in read_table(spark, path).collect())
    assert got == [i for i in range(30) if i != 5]  # id=5 stays deleted
    # the kept file's DV row survives; the doomed file's row is gone
    dv_counts = {
        file_key(manifest_path(f)): n for f, n in m2.get("dv_counts", {}).items()
    }
    assert sum(dv_counts.values()) == 1
    live = _norm_files(spark, path, 2)
    assert all(f in live for f in dv_counts)


def test_update_partition_scoped_rewrite(spark, tmp_path):
    """A partition-scoped UPDATE rewrites only that partition's files;
    generated columns recompute on the rewritten subset."""
    path = str(tmp_path / "t")
    df = (
        spark.range(40)
        .selectExpr("id", "CAST(id % 2 AS INT) AS p", "id * 2 AS g")
        .repartitionByRange(4, "id")
    )
    create_table(df, path, partition_by=["p"], generated={"g": "id * 2"})
    f0 = _norm_files(spark, path, 0)
    update_table(spark, path, {"id": "id + 100"}, "p = 1")
    f1 = _norm_files(spark, path, 1)
    kept = f0 & f1
    assert kept and all("p=0" in f for f in kept)  # p=0 files untouched
    rows = read_table(spark, path).collect()
    assert all(r.g == r.id * 2 for r in rows)  # generated recomputed
    assert sorted(r.id for r in rows if r.p == 1) == [
        i + 100 for i in range(40) if i % 2 == 1
    ]
    assert _read_manifest(spark, path, 1)["n_rows"] == 40


def test_update_constraint_violation_rolls_back(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(40).selectExpr("id", "CAST(id AS DOUBLE) AS x").repartition(
        4, "id"
    )
    create_table(df, path, constraints={"x_pos": "x >= 0"})
    with pytest.raises(ValueError, match="x_pos"):
        update_table(spark, path, {"x": "-1.0"}, "id < 5")
    # the failed attempt left no new version and no orphan data dir
    assert latest_version(spark, path) == 0
    assert read_table(spark, path).count() == 40
    assert not glob.glob(os.path.join(path, "v00000001*", "*.parquet"))


def test_delete_change_data_through_touched_path(spark, tmp_path):
    path = str(tmp_path / "t")
    _mk4(spark, path)
    delete_from_table(spark, path, "id BETWEEN 12 AND 14", change_data=True)
    ch = read_change_data(spark, path, 0).collect()
    assert sorted(r.id for r in ch) == [12, 13, 14]
    assert {r["_change_type"] for r in ch} == {"delete"}
    assert read_table(spark, path).count() == 37


def test_dml_rewrite_concurrency_check(spark, tmp_path):
    """A commit racing past the witnessed snapshot is refused."""
    from wnv_etl_lab2_spark.sources.versioned import append_table

    path = str(tmp_path / "t")
    _mk4(spark, path)
    m0 = _read_manifest(spark, path, 0)
    files = _resolve_files(spark, path, 0)
    live = read_table(spark, path).where(F.lit(False))
    append_table(spark.range(40, 45).selectExpr("id", "CAST(id AS DOUBLE) AS x"), path)
    with pytest.raises(ValueError, match="concurrency"):
        _commit_partial_rewrite(spark, path, 0, m0, files, files[:1], live, "delete")


def test_dv_spelling_insensitive_drop(spark, tmp_path):
    """DV rows are matched to doomed files scheme-insensitively
    (r17 ADVICE): a DV recorded under any URI spelling of a rewritten
    file must drop from the new sidecar, not linger as bloat."""
    import json

    path = str(tmp_path / "t")
    _mk4(spark, path)
    delete_from_table(spark, path, "id = 35", mode="merge_on_read")
    # rewrite the manifest's file entries to the scheme-less spelling a
    # pre-round-9 writer used; the DV keeps Spark's file:/// spelling
    mpath = os.path.join(path, "_log", "00000001.json")
    m = json.load(open(mpath))
    assert "files" in m
    m["files"] = [f.replace("file:", "") for f in m["files"]]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    crc = os.path.join(path, "_log", ".00000001.json.crc")
    if os.path.exists(crc):
        os.remove(crc)
    delete_from_table(spark, path, "id >= 30")
    m2 = _read_manifest(spark, path, 2)
    assert not m2.get("dv_counts")  # the doomed file's DV row dropped
    assert sorted(r.id for r in read_table(spark, path).collect()) == list(
        range(30)
    )


def test_partition_only_predicate_skips_witness_scan(spark, tmp_path, monkeypatch):
    """A DML predicate over ONLY partition columns dooms files from
    their hive paths — no witness scan job (round 18, Delta's
    partition pruning before find-touched-files); a predicate touching
    any data column falls back to the witness scan; results are
    identical either way."""
    import wnv_etl_lab2_spark.sources.versioned as V

    path = str(tmp_path / "t")
    df = (
        spark.range(40)
        .selectExpr("id", "CAST(id % 4 AS INT) AS p", "CAST(id AS DOUBLE) AS x")
        .repartition(4, "id")
    )
    create_table(df, path, partition_by=["p"])
    files = _resolve_files(spark, path, 0)
    m = _read_manifest(spark, path, 0)
    # partition-only: decided from paths
    got = V._partition_predicate_files(spark, files, m, "p = 1")
    assert got is not None and got and all("p=1" in f for f in got)
    assert set(got) == {f for f in files if "p=1" in f}
    # NULL three-valued logic: p IS NULL matches nothing here
    assert V._partition_predicate_files(spark, files, m, "p IS NULL") == []
    # data-column reference: falls back (returns None)
    assert V._partition_predicate_files(spark, files, m, "p = 1 AND x > 0") is None
    # end-to-end: the partition-scoped delete takes the path-decided
    # fast route (non-None from _partition_predicate_files), so
    # _find_touched_files never runs its witness scan
    seen = {}
    orig_pp = V._partition_predicate_files

    def spy(spark_, files_, m_, cond):
        r = orig_pp(spark_, files_, m_, cond)
        seen["r"] = r
        return r

    monkeypatch.setattr(V, "_partition_predicate_files", spy)
    delete_from_table(spark, path, "p = 3")
    assert seen["r"] and all("p=3" in f for f in seen["r"])
    assert sorted(r.id for r in read_table(spark, path).collect()) == [
        i for i in range(40) if i % 4 != 3
    ]


def test_nondeterministic_dml_is_refused(spark, tmp_path):
    """A nondeterministic DELETE/UPDATE condition or SET expression is
    refused in every mode, as Spark's analyzer refuses it
    (INVALID_NON_DETERMINISTIC_EXPRESSIONS): the witness scan, the
    rewrite and the change feed would each draw their own values. The
    error names the expression, and nothing commits."""
    from wnv_etl_lab2_spark.sources.transactions import TxnWrite, commit_transaction

    path = str(tmp_path / "t")
    df = (
        spark.range(40)
        .selectExpr("id", "CAST(id % 4 AS INT) AS p", "CAST(id AS DOUBLE) AS x")
        .repartition(4, "id")
    )
    create_table(df, path, partition_by=["p"])
    want = sorted(tuple(r) for r in read_table(spark, path).collect())
    cases = [
        ("rand() < 0.5", lambda: delete_from_table(
            spark, path, "x >= 0 AND rand() < 0.5", change_data=True)),
        # a partition-only predicate would otherwise be decided per
        # partition from the paths
        ("rand() < 0.5", lambda: delete_from_table(
            spark, path, "p = 1 OR rand() < 0.5")),
        ("rand() < 0.5", lambda: delete_from_table(
            spark, path, "rand() < 0.5", mode="merge_on_read")),
        ("rand() < 0.5", lambda: update_table(
            spark, path, {"x": "0.0"}, "rand() < 0.5")),
        ("SET id", lambda: update_table(
            spark, path, {"id": "CAST(rand() * 100 AS BIGINT)"}, "p = 2")),
        ("rand() < 0.5", lambda: commit_transaction(
            spark, str(tmp_path / "_txn"),
            [TxnWrite(df=None, table_path=path, op="delete",
                      condition="rand() < 0.5")])),
        ("SET x", lambda: commit_transaction(
            spark, str(tmp_path / "_txn"),
            [TxnWrite(df=None, table_path=path, op="chain", chain=(
                {"op": "delete", "condition": "id = 0"},
                {"op": "update", "set_exprs": {"x": "rand()"},
                 "condition": "true"},
            ))])),
    ]
    for named, run in cases:
        with pytest.raises(ValueError, match="nondeterministic") as err:
            run()
        assert named in str(err.value)
        assert latest_version(spark, path) == 0
        assert sorted(tuple(r) for r in read_table(spark, path).collect()) == want
    # rows appended from rand() inside a chain are data, not a DML
    # expression: a deterministic DELETE over them still composes
    commit_transaction(spark, str(tmp_path / "_txn"), [
        TxnWrite(df=None, table_path=path, op="chain", chain=(
            {"op": "append", "df": spark.range(1).selectExpr(
                "100 AS id", "1 AS p", "rand() AS x")},
            {"op": "delete", "condition": "id < 10"},
        )),
    ])
    assert sorted(r.id for r in read_table(spark, path).collect()) == [
        *range(10, 40), 100
    ]
