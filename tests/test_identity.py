"""IDENTITY columns (GENERATED BY DEFAULT AS IDENTITY).

Pins the round-13 contract in `sources/versioned.py`: missing identity
columns get monotone values allocated from a manifest high-water mark
(dense per-batch ranks, no global window funnel), supplied values
advance the mark past the batch max, every write verb participates,
and the values stay unique across any interleaving.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.sources.versioned import (
    _read_manifest,
    append_table,
    create_table,
    latest_version,
    read_table,
    update_table,
)


def _ids(spark, path):
    return [r.rid for r in read_table(spark, path).select("rid").collect()]


@pytest.fixture()
def id_table(spark, tmp_path):
    path = str(tmp_path / "it")
    base = spark.createDataFrame([("a",), ("b",), ("c",)], "name string")
    create_table(base, path, identity={"rid": {"start": 1, "step": 1}})
    return path


def test_create_allocates_from_start(spark, id_table):
    assert sorted(_ids(spark, id_table)) == [1, 2, 3]
    m = _read_manifest(spark, id_table, 0)
    assert m["identity"]["rid"]["high"] == 3


def test_append_continues_monotone_without_collision(spark, id_table):
    append_table(spark.createDataFrame([("d",), ("e",)], "name string"), id_table)
    ids = sorted(_ids(spark, id_table))
    assert len(ids) == len(set(ids)) == 5
    assert min(ids) == 1 and max(ids) == 5  # contiguous here (same step)


def test_supplied_values_advance_the_mark(spark, id_table):
    append_table(
        spark.createDataFrame([(100, "x")], "rid long, name string"), id_table
    )
    append_table(spark.createDataFrame([("y",)], "name string"), id_table)
    ids = _ids(spark, id_table)
    assert len(ids) == len(set(ids)) == 5
    fresh = set(ids) - {1, 2, 3, 100}
    assert fresh == {101}  # allocation resumed past the supplied max


def test_multi_partition_allocation_is_unique_and_dense(spark, id_table):
    big = spark.createDataFrame(
        [(f"n{i}",) for i in range(64)], "name string"
    ).repartition(8)
    append_table(big, id_table)
    ids = sorted(_ids(spark, id_table))
    assert len(ids) == len(set(ids)) == 67
    assert ids == list(range(1, 68))  # dense ranks per batch, no gaps


def test_custom_start_and_step(spark, tmp_path):
    path = str(tmp_path / "step")
    create_table(
        spark.createDataFrame([("a",), ("b",)], "name string"), path,
        identity={"rid": {"start": 10, "step": 5}},
    )
    assert sorted(_ids(spark, path)) == [10, 15]
    append_table(spark.createDataFrame([("c",)], "name string"), path)
    assert sorted(_ids(spark, path)) == [10, 15, 20]


def test_update_refuses_identity_set_but_recomputes_rest(spark, id_table):
    with pytest.raises(ValueError, match="IDENTITY"):
        update_table(spark, id_table, {"rid": "0"}, "name = 'a'")
    update_table(spark, id_table, {"name": "'A'"}, "name = 'a'")
    rows = {(r.rid, r.name) for r in read_table(spark, id_table).collect()}
    assert ("A",) in {(n,) for _, n in rows}
    assert len({i for i, _ in rows}) == 3  # ids untouched by the rewrite


def test_overwrite_missing_identity_allocates_fresh(spark, id_table):
    from wnv_etl_lab2_spark.sources.versioned import overwrite_table

    overwrite_table(spark.createDataFrame([("z",), ("w",)], "name string"), id_table)
    ids = _ids(spark, id_table)
    assert len(ids) == len(set(ids)) == 2
    assert all(i > 3 for i in ids)  # past the create batch's mark


def test_copy_into_allocates_identity(spark, tmp_path, id_table):
    land = str(tmp_path / "land")
    spark.createDataFrame([("c1",), ("c2",)], "name string").coalesce(
        1
    ).write.parquet(land)
    from wnv_etl_lab2_spark.sources.versioned import copy_into

    assert copy_into(spark, id_table, land)["rows_loaded"] == 2
    ids = _ids(spark, id_table)
    assert len(ids) == len(set(ids)) == 5


def test_txn_append_allocates_and_advances(spark, tmp_path, id_table):
    from wnv_etl_lab2_spark.sources.transactions import (
        TxnWrite,
        commit_transaction,
    )

    other = str(tmp_path / "other")
    create_table(spark.createDataFrame([(0,)], "k long"), other)
    commit_transaction(
        spark,
        str(tmp_path / "txnlog"),
        [
            TxnWrite(
                spark.createDataFrame([("t1",), ("t2",)], "name string"),
                id_table,
                "append",
            ),
            TxnWrite(spark.createDataFrame([(1,)], "k long"), other, "append"),
        ],
    )
    ids = _ids(spark, id_table)
    assert len(ids) == len(set(ids)) == 5
    m = _read_manifest(spark, id_table, latest_version(spark, id_table))
    assert m["identity"]["rid"]["high"] == max(ids)


def test_drop_column_removes_identity_declaration(spark, id_table):
    from wnv_etl_lab2_spark.sources.versioned import drop_column

    drop_column(spark, id_table, "rid")
    m = _read_manifest(spark, id_table, latest_version(spark, id_table))
    assert "identity" not in m
    append_table(spark.createDataFrame([("q",)], "name string"), id_table)
    assert set(read_table(spark, id_table).columns) == {"name"}


def test_identity_and_generated_are_mutually_exclusive(spark, tmp_path):
    base = spark.createDataFrame([("a",)], "name string")
    with pytest.raises(ValueError, match="both GENERATED and IDENTITY"):
        create_table(
            base, str(tmp_path / "bad"),
            generated={"rid": "length(name)"},
            identity={"rid": {"start": 1, "step": 1}},
        )


def test_zero_step_refuses(spark, tmp_path):
    with pytest.raises(ValueError, match="nonzero"):
        create_table(
            spark.createDataFrame([("a",)], "name string"),
            str(tmp_path / "z"),
            identity={"rid": {"start": 1, "step": 0}},
        )


@pytest.mark.parametrize("always", [True, False])
def test_merge_cardinality_on_identity_table(spark, tmp_path, always):
    """A MERGE that can INSERT into an IDENTITY table allocates ids on
    the same write that carries the cardinality counts, and a source
    key matching one target row twice still refuses and commits
    nothing — upsert, SQL MERGE and a multi-clause merge alike."""
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        merge_into_table,
        merge_upsert_table,
    )

    path = str(tmp_path / "im")
    create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"),
        path,
        identity={"rid": {"start": 1, "step": 1, "always": always}},
    )
    v0 = latest_version(spark, path)
    dup = spark.createDataFrame([(1, "x"), (1, "y"), (5, "n")], "k long, v string")
    with pytest.raises(ValueError, match="cardinality"):
        merge_upsert_table(dup, path, "k")
    assert latest_version(spark, path) == v0
    with pytest.raises(ValueError, match="cardinality"):
        merge_into_table(
            spark, path, dup, on="t.k = s.k",
            matched=[("s.v <> 'q'", "update", {"v": "s.v"})],
            not_matched=[(None, {"k": "s.k", "v": "s.v"})],
        )
    assert latest_version(spark, path) == v0
    dup.createOrReplaceTempView("dup_src")
    with pytest.raises(ValueError, match="cardinality"):
        DeltaSql(spark, {"im": path}).run(
            "MERGE INTO im t USING dup_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        )
    assert latest_version(spark, path) == v0
    merge_upsert_table(
        spark.createDataFrame([(1, "x"), (5, "n")], "k long, v string"), path, "k"
    )
    got = sorted((r.k, r.v) for r in read_table(spark, path).collect())
    assert got == [(1, "x"), (2, "b"), (5, "n")]
    ids = _ids(spark, path)
    assert len(ids) == len(set(ids)) == 3
