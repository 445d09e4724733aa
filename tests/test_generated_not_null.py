"""GENERATED ALWAYS AS columns + NOT NULL column constraints.

Pins the round-13 contracts in `sources/versioned.py`: generated
columns compute-if-missing on every write verb and refuse inconsistent
supplied values via the auto-registered ``gen_<col>`` CHECK invariant;
NOT NULL is one metadata commit flipping declared nullability plus an
``nn_<col>`` enforcing constraint; both through the SQL surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.sources.versioned import (
    append_table,
    create_table,
    drop_check_constraint,
    drop_column,
    drop_not_null,
    latest_version,
    read_table,
    set_not_null,
    table_constraints,
    table_schema,
    update_table,
)


def _content(df):
    return {tuple(r) for r in df.select(sorted(df.columns)).collect()}


@pytest.fixture()
def gen_table(spark, tmp_path):
    """id/amount base columns; total = amount * 2 generated."""
    path = str(tmp_path / "gt")
    base = spark.createDataFrame([(1, 10), (2, 20)], "id long, amount long")
    create_table(base, path, generated={"total": "amount * 2"})
    return path


def test_create_computes_missing_generated_column(spark, gen_table):
    assert _content(read_table(spark, gen_table)) == {(10, 1, 20), (20, 2, 40)}
    # the enforcing invariant is a visible, ordinary constraint
    assert table_constraints(spark, gen_table) == {"gen_total": "total <=> (amount * 2)"}


def test_append_computes_and_validates(spark, gen_table):
    # missing -> computed
    append_table(spark.createDataFrame([(3, 30)], "id long, amount long"), gen_table)
    # provided and CONSISTENT -> accepted
    append_table(
        spark.createDataFrame([(4, 40, 80)], "id long, amount long, total long"),
        gen_table,
    )
    assert (30, 3, 60) in _content(read_table(spark, gen_table))
    assert (40, 4, 80) in _content(read_table(spark, gen_table))
    # provided and WRONG -> the write refuses, nothing committed
    before = latest_version(spark, gen_table)
    with pytest.raises(ValueError, match="gen_total"):
        append_table(
            spark.createDataFrame([(5, 50, 999)], "id long, amount long, total long"),
            gen_table,
        )
    assert latest_version(spark, gen_table) == before


def test_update_recomputes_generated_and_refuses_direct_set(spark, gen_table):
    with pytest.raises(ValueError, match="GENERATED"):
        update_table(spark, gen_table, {"total": "0"}, "id = 1")
    update_table(spark, gen_table, {"amount": "amount + 5"}, "id = 1")
    assert (15, 1, 30) in _content(read_table(spark, gen_table))  # recomputed
    assert (20, 2, 40) in _content(read_table(spark, gen_table))  # untouched


def test_generated_survives_rewrites_and_still_computes(spark, gen_table):
    from wnv_etl_lab2_spark.sources.versioned import delete_from_table, optimize_table

    delete_from_table(spark, gen_table, "id = 2")
    optimize_table(spark, gen_table, target_files=1)
    append_table(spark.createDataFrame([(9, 90)], "id long, amount long"), gen_table)
    assert _content(read_table(spark, gen_table)) == {(10, 1, 20), (90, 9, 180)}


def test_copy_into_computes_generated(spark, tmp_path, gen_table):
    land = str(tmp_path / "land")
    spark.createDataFrame([(7, 70)], "id long, amount long").coalesce(1).write.parquet(
        land
    )
    from wnv_etl_lab2_spark.sources.versioned import copy_into

    out = copy_into(spark, gen_table, land)
    assert out["rows_loaded"] == 1
    assert (70, 7, 140) in _content(read_table(spark, gen_table))


def test_gen_invariant_cannot_be_dropped_while_declared(spark, gen_table):
    with pytest.raises(ValueError, match="cannot be dropped"):
        drop_check_constraint(spark, gen_table, "gen_total")


def test_drop_generated_column_removes_declaration(spark, gen_table):
    drop_column(spark, gen_table, "total")  # metadata drop takes decl + invariant
    assert table_constraints(spark, gen_table) == {}
    append_table(spark.createDataFrame([(6, 60)], "id long, amount long"), gen_table)
    assert set(read_table(spark, gen_table).columns) == {"id", "amount"}


def test_generated_on_generated_refuses(spark, tmp_path):
    base = spark.createDataFrame([(1, 10)], "id long, amount long")
    with pytest.raises(ValueError, match="base columns only"):
        create_table(
            base, str(tmp_path / "gg"),
            generated={"a2": "amount * 2", "a4": "a2 * 2"},
        )


def test_merge_upsert_validates_generated(spark, gen_table):
    from wnv_etl_lab2_spark.sources.versioned import merge_upsert_table

    ok = spark.createDataFrame([(1, 100, 200)], "id long, amount long, total long")
    merge_upsert_table(ok, gen_table, "id")
    assert (100, 1, 200) in _content(read_table(spark, gen_table))
    bad = spark.createDataFrame([(2, 7, 999)], "id long, amount long, total long")
    with pytest.raises(ValueError, match="gen_total"):
        merge_upsert_table(bad, gen_table, "id")


# ---- NOT NULL ------------------------------------------------------------


@pytest.fixture()
def nn_table(spark, tmp_path):
    path = str(tmp_path / "nt")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    create_table(base, path)
    return path


def test_set_not_null_enforces_on_writes(spark, nn_table):
    set_not_null(spark, nn_table, "name")
    assert table_constraints(spark, nn_table) == {"nn_name": "name IS NOT NULL"}
    assert not table_schema(spark, nn_table)["name"].nullable
    append_table(spark.createDataFrame([(3, "c")], "id long, name string"), nn_table)
    before = latest_version(spark, nn_table)
    with pytest.raises(ValueError, match="nn_name"):
        append_table(
            spark.createDataFrame([(4, None)], "id long, name string"), nn_table
        )
    assert latest_version(spark, nn_table) == before


def test_set_not_null_refuses_existing_nulls(spark, tmp_path):
    path = str(tmp_path / "nulls")
    create_table(
        spark.createDataFrame([(1, None), (2, "b")], "id long, name string"), path
    )
    with pytest.raises(ValueError, match="existing rows are null"):
        set_not_null(spark, path, "name")


def test_drop_not_null_relaxes(spark, nn_table):
    set_not_null(spark, nn_table, "name")
    drop_not_null(spark, nn_table, "name")
    assert table_schema(spark, nn_table)["name"].nullable
    append_table(spark.createDataFrame([(4, None)], "id long, name string"), nn_table)
    assert read_table(spark, nn_table).where(F.col("name").isNull()).count() == 1


def test_drop_column_takes_not_null_with_it(spark, nn_table):
    set_not_null(spark, nn_table, "name")
    drop_column(spark, nn_table, "name")  # metadata drop, no refuse
    assert table_constraints(spark, nn_table) == {}


def test_not_null_sql_surface(spark, nn_table):
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql

    sql = DeltaSql(spark, {"t": nn_table})
    sql.run("ALTER TABLE t ALTER COLUMN name SET NOT NULL")
    assert "nn_name" in table_constraints(spark, nn_table)
    sql.run("ALTER TABLE t ALTER COLUMN name DROP NOT NULL")
    assert table_constraints(spark, nn_table) == {}


def test_not_null_on_unknown_column_refuses(spark, nn_table):
    with pytest.raises(ValueError, match="no such column"):
        set_not_null(spark, nn_table, "ghost")


def test_merge_star_validates_supplied_generated(spark, gen_table):
    """Under the * forms a generated value the source carries is
    written and checked, on a matched and on an inserted row; a source
    without the column recomputes it."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _upsert_clauses,
        merge_into_table,
    )

    v0 = latest_version(spark, gen_table)
    for key in (1, 3):
        bad = spark.createDataFrame([(key, 7, 999)], "id long, amount long, total long")
        with pytest.raises(ValueError, match="gen_total"):
            merge_into_table(spark, gen_table, bad, **_upsert_clauses("id"))
    assert latest_version(spark, gen_table) == v0
    omitted = spark.createDataFrame([(1, 7), (3, 9)], "id long, amount long")
    merge_into_table(spark, gen_table, omitted, **_upsert_clauses("id"))
    assert _content(read_table(spark, gen_table)) == {
        (7, 1, 14), (20, 2, 40), (9, 3, 18),
    }
