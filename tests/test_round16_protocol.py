"""Round-16 protocol features: transactional DML (UPDATE / DELETE /
MERGE inside cross-table transactions and BEGIN TRANSACTION on the SQL
surface — r15 verdict "what's missing" #1)."""

from __future__ import annotations

import pytest

from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
from wnv_etl_lab2_spark.sources.transactions import (
    TxnWrite,
    commit_transaction,
)
from wnv_etl_lab2_spark.sources.versioned import (
    _read_manifest,
    add_check_constraint,
    create_table,
    latest_version,
    read_table,
)


def _ids(spark, path):
    return sorted(r.id for r in read_table(spark, path).collect())


# ------------------------------------------- python API: DML in txns


def test_txn_delete_plus_append_is_atomic(spark, tmp_path):
    """The verdict's exact scenario: delete from one table and insert
    into another, atomically."""
    t1, t2, log = (
        str(tmp_path / "corpus"),
        str(tmp_path / "audit"),
        str(tmp_path / "_txn"),
    )
    create_table(
        spark.createDataFrame([(i,) for i in range(5)], "id long"), t1
    )
    create_table(spark.createDataFrame([(100,)], "id long"), t2)

    got = commit_transaction(
        spark,
        log,
        [
            TxnWrite(df=None, table_path=t1, op="delete", condition="id < 2"),
            TxnWrite(
                df=spark.createDataFrame([(101,)], "id long"),
                table_path=t2,
                op="append",
            ),
        ],
    )
    assert set(got.values()) == {1}
    assert _ids(spark, t1) == [2, 3, 4]
    assert _ids(spark, t2) == [100, 101]
    assert _read_manifest(spark, t1, 1)["op"] == "delete"


def test_txn_update_and_merge_ops(spark, tmp_path):
    t1, t2, log = (
        str(tmp_path / "a"),
        str(tmp_path / "b"),
        str(tmp_path / "_txn"),
    )
    create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"), t1
    )
    create_table(
        spark.createDataFrame([(1, "x"), (3, "z")], "id long, tag string"), t2
    )
    src = spark.createDataFrame([(2, "y2"), (9, "n9")], "id long, tag string")
    commit_transaction(
        spark,
        log,
        [
            TxnWrite(
                df=None, table_path=t1, op="update",
                set_exprs={"v": "v + 1"}, condition="id = 2",
            ),
            TxnWrite(
                df=src, table_path=t2, op="merge",
                merge_kwargs={
                    "on": "t.id = s.id",
                    "matched": [(None, "update", "*")],
                    "not_matched": [(None, "*")],
                },
            ),
        ],
    )
    assert sorted((r.id, r.v) for r in read_table(spark, t1).collect()) == [
        (1, 10), (2, 21),
    ]
    assert sorted((r.id, r.tag) for r in read_table(spark, t2).collect()) == [
        (1, "x"), (2, "y2"), (3, "z"), (9, "n9"),
    ]


def test_txn_dml_aborts_all_or_nothing(spark, tmp_path):
    """A failure AFTER one DML already published its pending manifest
    must free that slot and leave every table at its prior version."""
    t1, t2, log = (
        str(tmp_path / "a"),
        str(tmp_path / "b"),
        str(tmp_path / "_txn"),
    )
    create_table(
        spark.createDataFrame([(i,) for i in range(4)], "id long"), t1
    )
    create_table(spark.createDataFrame([(1, 5)], "id long, v int"), t2)
    with pytest.raises(ValueError, match="unknown columns"):
        commit_transaction(
            spark,
            log,
            [
                # publishes its pending manifest first (claims v1)...
                TxnWrite(
                    df=None, table_path=t1, op="delete", condition="id >= 2"
                ),
                # ...then this UPDATE fails validation -> abort
                TxnWrite(
                    df=None, table_path=t2, op="update",
                    set_exprs={"nope": "1"}, condition="true",
                ),
            ],
        )
    assert latest_version(spark, t1) == 0 and _ids(spark, t1) == [0, 1, 2, 3]
    assert latest_version(spark, t2) == 0
    # the aborted txn freed t1's slot: a plain write works immediately
    from wnv_etl_lab2_spark.sources.versioned import append_table

    append_table(spark.createDataFrame([(9,)], "id long"), t1)
    assert latest_version(spark, t1) == 1 and 9 in set(_ids(spark, t1))


def test_txn_dml_pending_invisible_and_constraint_abort(spark, tmp_path):
    """Constraint-violating plain write staged alongside a DML: the
    whole transaction aborts before anything becomes visible."""
    t1, t2, log = (
        str(tmp_path / "a"),
        str(tmp_path / "b"),
        str(tmp_path / "_txn"),
    )
    create_table(
        spark.createDataFrame([(i,) for i in range(4)], "id long"), t1
    )
    create_table(spark.createDataFrame([(1,)], "id long"), t2)
    add_check_constraint(spark, t2, "pos", "id >= 0")
    with pytest.raises(ValueError, match="pos"):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(df=None, table_path=t1, op="delete", condition="true"),
                TxnWrite(
                    df=spark.createDataFrame([(-5,)], "id long"),
                    table_path=t2,
                    op="append",
                ),
            ],
        )
    assert _ids(spark, t1) == [0, 1, 2, 3]
    assert _ids(spark, t2) == [1]


# ------------------------------------------------- SQL surface: BEGIN


def test_sql_txn_delete_insert_commit(spark, tmp_path):
    t1, t2 = str(tmp_path / "corpus"), str(tmp_path / "audit")
    sql = DeltaSql(spark, {"corpus": t1, "audit": t2})
    sql.run("CREATE TABLE corpus AS SELECT * FROM range(5)")
    sql.run("CREATE TABLE audit (id BIGINT)")

    sql.run("BEGIN TRANSACTION")
    sql.run("DELETE FROM corpus WHERE id < 2")
    sql.run("INSERT INTO audit VALUES (2)")
    # nothing visible while the transaction is open
    assert _ids(spark, t1) == [0, 1, 2, 3, 4]
    got = sql.run("COMMIT")
    assert set(got) == {t1, t2}
    assert _ids(spark, t1) == [2, 3, 4]
    assert _ids(spark, t2) == [2]


def test_sql_txn_update_merge_and_rollback(spark, tmp_path):
    t1, t2 = str(tmp_path / "t1"), str(tmp_path / "t2")
    sql = DeltaSql(spark, {"t1": t1, "t2": t2})
    sql.run("CREATE TABLE t1 AS SELECT id, id * 10 AS v FROM range(3)")
    sql.run("CREATE TABLE t2 AS SELECT id, id * 100 AS w FROM range(3)")

    sql.run("BEGIN TRANSACTION")
    sql.run("UPDATE t1 SET v = v + 1 WHERE id = 1")
    sql.run(
        "MERGE INTO t2 USING t1 ON t2.id = t1.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    sql.run("ROLLBACK")
    assert latest_version(spark, t1) == 0 and latest_version(spark, t2) == 0

    sql.run("BEGIN TRANSACTION")
    sql.run("UPDATE t1 SET v = v + 1 WHERE id = 1")
    sql.run("DELETE FROM t2 WHERE id = 0")
    sql.run("COMMIT")
    assert sorted((r.id, r.v) for r in read_table(spark, t1).collect()) == [
        (0, 0), (1, 11), (2, 20),
    ]
    assert _ids(spark, t2) == [1, 2]


def test_sql_txn_same_table_statement_chains(spark, tmp_path):
    """Same-table statements compose in ORDER inside a transaction —
    the classic replace pattern (DELETE old, INSERT new) lands as one
    atomic rewrite, and each statement sees the previous ones'
    effects."""
    t1 = str(tmp_path / "t1")
    sql = DeltaSql(spark, {"t1": t1})
    sql.run("CREATE TABLE t1 AS SELECT * FROM range(3)")
    sql.run("BEGIN TRANSACTION")
    sql.run("DELETE FROM t1 WHERE id >= 1")
    sql.run("INSERT INTO t1 VALUES (10), (11)")
    sql.run("UPDATE t1 SET id = id + 100 WHERE id >= 10")
    # the second UPDATE sees the first's effect (sequential semantics)
    sql.run("UPDATE t1 SET id = id + 1000 WHERE id >= 100")
    assert _ids(spark, t1) == [0, 1, 2]  # nothing visible pre-COMMIT
    sql.run("COMMIT")
    assert _ids(spark, t1) == [0, 1110, 1111]
    assert latest_version(spark, t1) == 1  # ONE atomic version
    m = _read_manifest(spark, t1, 1)
    assert m["op"] == "overwrite"
    assert m["txn_ops"] == ["delete", "append", "update", "update"]

    # INSERT-first chains too; ROLLBACK discards the whole chain
    sql.run("BEGIN TRANSACTION")
    sql.run("INSERT INTO t1 VALUES (7)")
    sql.run("DELETE FROM t1 WHERE id = 0")
    sql.run("ROLLBACK")
    assert _ids(spark, t1) == [0, 1110, 1111]

    sql.run("BEGIN TRANSACTION")
    sql.run("INSERT INTO t1 VALUES (7)")
    sql.run("DELETE FROM t1 WHERE id = 1111")
    sql.run("COMMIT")
    assert _ids(spark, t1) == [0, 7, 1110]

    # MERGE composes into the chain since round 17 (it used to be the
    # table's exclusive statement): DELETE then a MERGE whose source
    # carries the deleted id — the merge sees the post-DELETE view, so
    # id 0 re-INSERTS (not updates), like two sequential statements
    spark.createDataFrame(
        [(0,), (7,)], "id long"
    ).createOrReplaceTempView("m16src")
    sql.run("BEGIN TRANSACTION")
    sql.run("DELETE FROM t1 WHERE id = 1110")
    sql.run(
        "MERGE INTO t1 USING m16src AS s ON t1.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    sql.run("COMMIT")
    assert _ids(spark, t1) == [0, 7]


def test_txn_chain_respects_constraints_and_identity(spark, tmp_path):
    """Chains stage through the same write machinery as any txn write:
    CHECK constraints abort the whole transaction; identity columns
    keep surviving rows' values and allocate for inserted rows."""
    t = str(tmp_path / "t")
    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        create_table,
    )

    create_table(
        spark.createDataFrame([(1, 5), (2, 6)], "id long, v int"),
        t,
        identity={"id": {"start": 10, "step": 1}},
    )
    add_check_constraint(spark, t, "pos", "v >= 0")
    sql2 = DeltaSql(spark, {"t": t})
    sql2.run("BEGIN TRANSACTION")
    sql2.run("DELETE FROM t WHERE id = 1")
    sql2.run("INSERT INTO t (v) VALUES (7)")  # identity allocates
    sql2.run("COMMIT")
    rows = sorted(
        (r.id, r.v) for r in read_table(spark, t).collect()
    )
    assert (2, 6) in rows and len(rows) == 2
    assert all(rid is not None for rid, _ in rows)

    # constraint violation anywhere in the chain aborts everything
    sql2.run("BEGIN TRANSACTION")
    sql2.run("DELETE FROM t WHERE v = 6")
    sql2.run("INSERT INTO t (v) VALUES (-1)")
    with pytest.raises(ValueError, match="pos"):
        sql2.run("COMMIT")
    assert sorted((r.id, r.v) for r in read_table(spark, t).collect()) == rows


def test_txn_chain_validates_supplied_generated_values(spark, tmp_path):
    """A chain keeps its steps' generated columns: a wrong supplied
    value from an append or a MERGE ``*`` step is refused by the gen_
    CHECK, as `append_table` and a single MERGE refuse it (the chain
    used to recompute it silently), and an omitted one is computed."""
    t, log = str(tmp_path / "t"), str(tmp_path / "txn")
    create_table(
        spark.createDataFrame([(1, 7)], "id long, amount int"), t,
        generated={"total": "amount * 2"},
    )

    def chain(*steps):
        return commit_transaction(
            spark, log, [TxnWrite(None, t, "chain", chain=steps)]
        )

    wrong = spark.createDataFrame([(1, 7, 999)], "id long, amount int, total int")
    upsert = dict(on="t.id = s.id", matched=[(None, "update", "*")],
                  not_matched=[(None, "*")])
    for step in (
        {"op": "append", "df": wrong},
        {"op": "merge", "df": wrong, "merge_kwargs": upsert},
    ):
        with pytest.raises(ValueError, match="gen_total"):
            chain(step)
        assert latest_version(spark, t) == 0
        assert [tuple(r) for r in read_table(spark, t).collect()] == [(1, 7, 14)]
    ok = spark.createDataFrame([(9, 1)], "id long, amount int")
    assert chain({"op": "append", "df": ok}) == {t: 1}
    assert sorted(tuple(r) for r in read_table(spark, t).collect()) == [
        (1, 7, 14), (9, 1, 2),
    ]


# ----------------------------------------------------- SQL views


def test_create_view_reads_current_snapshot(spark, tmp_path):
    t = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": t})
    sql.run("CREATE TABLE t AS SELECT id, id * 2 AS v FROM range(4)")
    sql.run("CREATE VIEW big AS SELECT id, v FROM t WHERE v >= 4")
    assert sorted(
        r.id for r in sql.run("SELECT id FROM big").collect()
    ) == [2, 3]
    # a view is VIRTUAL: later writes to the base table show through
    sql.run("INSERT INTO t VALUES (10, 40)")
    sql.run("DELETE FROM t WHERE id = 2")
    assert sorted(
        r.id for r in sql.run("SELECT id FROM big").collect()
    ) == [3, 10]
    # views compose with tables in one statement
    n = sql.run(
        "SELECT count(*) AS n FROM big JOIN t ON big.id = t.id"
    ).collect()[0].n
    assert n == 2


def test_view_over_view_insert_ctas_merge(spark, tmp_path):
    t, d = str(tmp_path / "t"), str(tmp_path / "d")
    sql = DeltaSql(spark, {"t": t, "derived": d})
    sql.run("CREATE TABLE t AS SELECT id, id % 2 AS par FROM range(6)")
    sql.run("CREATE VIEW evens AS SELECT id FROM t WHERE par = 0")
    sql.run("CREATE VIEW small_evens AS SELECT id FROM evens WHERE id < 4")
    assert sorted(
        r.id for r in sql.run("SELECT * FROM small_evens").collect()
    ) == [0, 2]
    # CTAS and INSERT ... SELECT resolve views too
    sql.run("CREATE TABLE derived AS SELECT id FROM small_evens")
    assert _ids(spark, d) == [0, 2]
    sql.run("INSERT INTO derived SELECT id + 100 AS id FROM small_evens")
    assert _ids(spark, d) == [0, 2, 100, 102]
    # MERGE USING a view as the source
    sql.run(
        "MERGE INTO derived USING evens ON derived.id = evens.id "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert _ids(spark, d) == [0, 2, 4, 100, 102]


def test_view_ddl_refusals_and_cycle(spark, tmp_path):
    t = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": t})
    sql.run("CREATE TABLE t AS SELECT * FROM range(3)")
    sql.run("CREATE VIEW v1 AS SELECT id FROM t")
    with pytest.raises(ValueError, match="already exists"):
        sql.run("CREATE VIEW v1 AS SELECT id FROM t")
    with pytest.raises(ValueError, match="cannot shadow"):
        sql.run("CREATE VIEW t AS SELECT id FROM t")
    # definitions validate at DDL time: unknown reference refuses and
    # nothing is registered
    with pytest.raises(Exception):
        sql.run("CREATE VIEW broken AS SELECT id FROM no_such_table")
    assert "broken" not in {
        r.name for r in sql.run("SHOW VIEWS").collect()
    }
    # a REPLACE that would create a cycle refuses and ROLLS BACK to
    # the previous definition
    sql.run("CREATE VIEW v2 AS SELECT id FROM v1")
    with pytest.raises(ValueError, match="cycle"):
        sql.run("CREATE OR REPLACE VIEW v1 AS SELECT id FROM v2")
    assert sorted(r.id for r in sql.run("SELECT * FROM v2").collect()) == [
        0, 1, 2,
    ]
    sql.run("DROP VIEW v2")
    with pytest.raises(ValueError, match="does not exist"):
        sql.run("DROP VIEW v2")
    sql.run("DROP VIEW IF EXISTS v2")  # no-op, no error
    assert [r.name for r in sql.run("SHOW VIEWS").collect()] == ["v1"]


def test_views_persist_across_sessions(spark, tmp_path):
    t = str(tmp_path / "t")
    vdir = str(tmp_path / "_views")
    sql = DeltaSql(spark, {"t": t}, view_dir=vdir)
    sql.run("CREATE TABLE t AS SELECT * FROM range(5)")
    sql.run("CREATE VIEW top3 AS SELECT id FROM t ORDER BY id DESC LIMIT 3")
    # a NEW catalog instance over the same view_dir sees the view
    sql2 = DeltaSql(spark, {"t": t}, view_dir=vdir)
    assert sorted(
        r.id for r in sql2.run("SELECT * FROM top3").collect()
    ) == [2, 3, 4]
    sql2.run("DROP VIEW top3")
    sql3 = DeltaSql(spark, {"t": t}, view_dir=vdir)
    assert sql3.run("SHOW VIEWS").count() == 0


# ----------------------------------------------------- ANALYZE TABLE


def test_analyze_table_sql_verbs(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import (
        read_table_bloom_pruned,
        read_table_pruned,
    )

    t = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": t})
    sql.run("CREATE TABLE t AS SELECT id, id % 7 AS k FROM range(0, 40)")
    sql.run("INSERT INTO t SELECT id, id % 7 AS k FROM range(40, 80)")

    v = sql.run("ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS id, k")
    m = _read_manifest(spark, t, v)
    assert m["op"] == "analyze" and m["stats_cols"] == ["id", "k"]
    assert m["stats"]
    # the skipping machinery the verb turns on actually prunes
    got = read_table_pruned(spark, t, "id", 0, 39)
    assert sorted(r.id for r in got.collect()) == list(range(40))

    v2 = sql.run("ANALYZE TABLE t COMPUTE BLOOM FILTERS FOR COLUMNS k")
    m2 = _read_manifest(spark, t, v2)
    assert m2["op"] == "analyze" and m2.get("blooms_ref")
    got = read_table_bloom_pruned(spark, t, "k", 3)
    assert sorted(r.id for r in got.collect()) == [
        i for i in range(80) if i % 7 == 3
    ]
    # bare COMPUTE STATISTICS covers every primitive column
    v3 = sql.run("ANALYZE TABLE t COMPUTE STATISTICS")
    m3 = _read_manifest(spark, t, v3)
    assert sorted(m3["stats_cols"]) == ["id", "k"]
    with pytest.raises(ValueError, match="unsupported ANALYZE"):
        sql.run("ANALYZE TABLE t COMPUTE GARBAGE")


def test_txn_chain_on_partitioned_table_with_evolution(spark, tmp_path):
    """Chains carry partitioning (files land under their hive dirs)
    and compose additive schema evolution: an appended frame's new
    column rides the rewrite, old rows null-fill."""
    t = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(i, i % 2) for i in range(6)], "id long, p int"
        ),
        t,
        partition_by=["p"],
    )
    sql = DeltaSql(spark, {"t": t})
    sql.run("BEGIN TRANSACTION")
    sql.run("DELETE FROM t WHERE id < 2")
    spark.createDataFrame(
        [(100, 1, "x")], "id long, p int, tag string"
    ).createOrReplaceTempView("_r16_chain_wave")
    sql.run("INSERT INTO t SELECT * FROM _r16_chain_wave")
    sql.run("COMMIT")
    rows = {r.id: (r.p, r.tag) for r in read_table(spark, t).collect()}
    assert set(rows) == {2, 3, 4, 5, 100}
    assert rows[100] == (1, "x") and rows[2][1] is None
    m = _read_manifest(spark, t, 1)
    assert m["partition_by"] == ["p"] and m["txn_ops"] == ["delete", "append"]
    # partition-pruned read still works over the chained rewrite
    pruned = read_table(spark, t, partition_filter={"p": 1})
    assert sorted(r.id for r in pruned.collect()) == [3, 5, 100]
    spark.catalog.dropTempView("_r16_chain_wave")


def test_txn_dml_carries_untouched_files(spark, tmp_path, monkeypatch):
    """Transactional DELETE and UPDATE take the plain verbs'
    touched-files route: only the files holding matching rows are
    rewritten, every other file carries by reference. Readers see v0
    while the pending manifests are published and the new rows once the
    outcome marker commits; an aborted transaction leaves v0 readable
    with every file present."""
    import os

    import wnv_etl_lab2_spark.sources.transactions as T
    from wnv_etl_lab2_spark.sources.table_paths import local_path
    from wnv_etl_lab2_spark.sources.versioned import _resolve_files

    def mk(path):
        create_table(
            spark.range(200)
            .selectExpr("id", "CAST(id % 4 AS INT) AS p", "CAST(id AS DOUBLE) AS x")
            .repartition(4, "id"),
            path,
            partition_by=["p"],
        )

    t1, t2, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "_txn")
    mk(t1)
    mk(t2)
    f1, f2 = set(_resolve_files(spark, t1, 0)), set(_resolve_files(spark, t2, 0))
    assert len(f1) == len(f2) == 16
    v0 = {t: sorted(tuple(r) for r in read_table(spark, t).collect()) for t in (t1, t2)}
    delete = TxnWrite(df=None, table_path=t1, op="delete", condition="id = 5")
    update = TxnWrite(
        df=None, table_path=t2, op="update", set_exprs={"x": "-x"}, condition="p = 2"
    )

    # aborted: the UPDATE fails validation after the DELETE published
    with pytest.raises(ValueError, match="unknown columns"):
        commit_transaction(spark, log, [
            delete,
            TxnWrite(df=None, table_path=t2, op="update",
                     set_exprs={"nope": "1"}, condition="p = 2"),
        ])
    for t, files in ((t1, f1), (t2, f2)):
        assert latest_version(spark, t) == 0
        assert sorted(tuple(r) for r in read_table(spark, t).collect()) == v0[t]
        assert all(os.path.exists(local_path(f)) for f in files)

    seen = {}
    decide = T.resolve_outcome

    def observe(spark_, txn_log, txn_id, outcome):
        # every pending manifest is published; the marker is not yet
        seen.update({t: (latest_version(spark, t), _ids(spark, t)) for t in (t1, t2)})
        return decide(spark_, txn_log, txn_id, outcome)

    monkeypatch.setattr(T, "resolve_outcome", observe)
    got = commit_transaction(spark, log, [delete, update])
    assert got == {t1: 1, t2: 1}
    assert seen == {t: (0, list(range(200))) for t in (t1, t2)}
    # the DELETE rewrote one file, the UPDATE the p=2 partition's four
    g1, g2 = set(_resolve_files(spark, t1, 1)), set(_resolve_files(spark, t2, 1))
    assert len(f1 & g1) == 15
    assert f2 & g2 == {f for f in f2 if "/p=2/" not in f} and len(f2 & g2) == 12
    assert _ids(spark, t1) == [i for i in range(200) if i != 5]
    assert sorted(tuple(r) for r in read_table(spark, t2).collect()) == sorted(
        (i, p, -x if p == 2 else x) for i, p, x in v0[t2]
    )
    assert _read_manifest(spark, t1, 1)["n_rows"] == 199
