"""Round-17 protocol features: MERGE composed into same-table
transaction chains (r16 verdict "what's missing" #2 — previously the
declared last refusal on the DML surface), plus the view-DDL edges
(SHOW CREATE VIEW round-trip, ALTER VIEW ... AS)."""

from __future__ import annotations

import pytest

from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
from wnv_etl_lab2_spark.sources.transactions import (
    TxnWrite,
    commit_transaction,
)
from wnv_etl_lab2_spark.sources.versioned import (
    _read_manifest,
    _upsert_clauses,
    create_table,
    delete_from_table,
    latest_version,
    merge_into_table,
    read_table,
)


def _rows(spark, path):
    return sorted(
        tuple(r) for r in read_table(spark, path).collect()
    )


# --------------------------------------- chain-merge == sequential run


def test_merge_then_delete_chain_equals_sequential(spark, tmp_path):
    """The verdict's exact scenario: a txn that upserts then deletes on
    ONE table commits as one rewrite and equals the bare sequential
    run (merge applied first, delete sees its effects)."""
    t_chain, t_seq = str(tmp_path / "chain"), str(tmp_path / "seq")
    rows = [(1, 10), (2, 20), (3, 30)]
    for p in (t_chain, t_seq):
        create_table(spark.createDataFrame(rows, "id long, v int"), p)
    src = spark.createDataFrame([(2, 99), (4, 40)], "id long, v int")
    kw = dict(
        on="t.id = s.id",
        matched=[(None, "update", "*")],
        not_matched=[(None, "*")],
    )
    # bare sequential run = the oracle
    merge_into_table(spark, t_seq, src, **kw)
    delete_from_table(spark, t_seq, "v >= 40")
    # the chain: one transaction, one committed version
    commit_transaction(
        spark,
        str(tmp_path / "_txn"),
        [
            TxnWrite(
                df=None, table_path=t_chain, op="chain",
                chain=(
                    {"op": "merge", "df": src, "merge_kwargs": kw},
                    {"op": "delete", "condition": "v >= 40"},
                ),
            )
        ],
    )
    assert _rows(spark, t_chain) == _rows(spark, t_seq) == [(1, 10), (3, 30)]
    assert latest_version(spark, t_chain) == 1  # ONE version, not two
    m = _read_manifest(spark, t_chain, 1)
    assert m["op"] == "overwrite" and m["txn_ops"] == ["merge", "delete"]


def test_delete_then_merge_chain_sees_prior_step(spark, tmp_path):
    """Order matters: a MERGE after a DELETE must match against the
    post-delete view — a key the delete removed re-inserts (not
    updates), exactly as two sequential statements would."""
    t = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, tag string"), t
    )
    src = spark.createDataFrame([(1, "A2"), (3, "C")], "id long, tag string")
    commit_transaction(
        spark,
        str(tmp_path / "_txn"),
        [
            TxnWrite(
                df=None, table_path=t, op="chain",
                chain=(
                    {"op": "delete", "condition": "id = 1"},
                    {
                        "op": "merge", "df": src,
                        "merge_kwargs": dict(
                            on="t.id = s.id",
                            matched=[(None, "update", "*")],
                            not_matched=[(None, "*")],
                        ),
                    },
                ),
            )
        ],
    )
    # id 1 was deleted, so the merge INSERTS it fresh (alongside 3)
    assert _rows(spark, t) == [(1, "A2"), (2, "b"), (3, "C")]


def test_chain_merge_upsert_then_insert(spark, tmp_path):
    """The SCD-1 upsert form composes too, and a later INSERT step
    appends on top of the merged view."""
    t = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"), t
    )
    commit_transaction(
        spark,
        str(tmp_path / "_txn"),
        [
            TxnWrite(
                df=None, table_path=t, op="chain",
                chain=(
                    {
                        "op": "merge",
                        "df": spark.createDataFrame(
                            [(2, 99)], "id long, v int"
                        ),
                        "merge_kwargs": _upsert_clauses("id"),
                    },
                    {
                        "op": "append",
                        "df": spark.createDataFrame(
                            [(5, 50)], "id long, v int"
                        ),
                    },
                ),
            )
        ],
    )
    assert _rows(spark, t) == [(1, 10), (2, 99), (5, 50)]


def test_chain_merge_generated_and_identity_recompute(spark, tmp_path):
    """Generated columns recompute over the composed frame; identity
    values survive for kept rows and allocate for merge-inserted
    rows — the same contract as the standalone merge."""
    t = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, 3)], "k long, v int"),
        t,
        generated={"v2": "v * 2"},
        identity={"rid": {"start": 100, "step": 1}},
    )
    base = {
        (r.k, r.v, r.v2, r.rid) for r in read_table(spark, t).collect()
    }
    assert base == {(1, 3, 6, 100)}
    src = spark.createDataFrame([(1, 7), (2, 9)], "k long, v int")
    commit_transaction(
        spark,
        str(tmp_path / "_txn"),
        [
            TxnWrite(
                df=None, table_path=t, op="chain",
                chain=(
                    {
                        "op": "merge", "df": src,
                        "merge_kwargs": dict(
                            on="t.k = s.k",
                            matched=[(None, "update", {"v": "s.v"})],
                            not_matched=[(None, {"k": "s.k", "v": "s.v"})],
                        ),
                    },
                    {
                        "op": "update",
                        "set_exprs": {"v": "v + 1"},
                        "condition": "k = 2",
                    },
                ),
            )
        ],
    )
    got = {(r.k, r.v, r.v2, r.rid) for r in read_table(spark, t).collect()}
    # k=1 keeps rid 100, v=7 -> v2=14; k=2 inserted (rid allocates),
    # then the update step bumps v to 10 -> v2 recomputes to 20
    assert {(k, v, v2) for k, v, v2, _ in got} == {(1, 7, 14), (2, 10, 20)}
    rids = {k: rid for k, _, _, rid in got}
    assert rids[1] == 100 and rids[2] > 100


def test_chain_merge_cardinality_aborts_whole_txn(spark, tmp_path):
    """An equi-ON cardinality violation inside a chain aborts the
    WHOLE transaction — the other table stays at its prior version."""
    t1, t2 = str(tmp_path / "a"), str(tmp_path / "b")
    create_table(spark.createDataFrame([(1, 10)], "id long, v int"), t1)
    create_table(spark.createDataFrame([(7,)], "id long"), t2)
    dup_src = spark.createDataFrame(
        [(1, 91), (1, 92)], "id long, v int"
    )  # two source rows hit target id=1
    with pytest.raises(ValueError, match="cardinality"):
        commit_transaction(
            spark,
            str(tmp_path / "_txn"),
            [
                TxnWrite(
                    df=spark.createDataFrame([(8,)], "id long"),
                    table_path=t2, op="append",
                ),
                TxnWrite(
                    df=None, table_path=t1, op="chain",
                    chain=(
                        {"op": "delete", "condition": "false"},
                        {
                            "op": "merge", "df": dup_src,
                            "merge_kwargs": dict(
                                on="t.id = s.id",
                                matched=[(None, "update", "*")],
                            ),
                        },
                    ),
                ),
            ],
        )
    assert latest_version(spark, t1) == 0 and latest_version(spark, t2) == 0
    assert _rows(spark, t1) == [(1, 10)]


def test_chain_merge_general_on_checks_eagerly(spark, tmp_path):
    """A GENERAL (non-equi) ON inside a chain runs its ambiguity probe
    at stage time — even though a later step DISCARDS the merged frame
    (an observation riding the final write would never fire here),
    sequential-statement semantics still demand the raise."""
    t = str(tmp_path / "t")
    create_table(spark.createDataFrame([(5, 1)], "id long, v int"), t)
    dup_src = spark.createDataFrame([(4, 91), (3, 92)], "id long, v int")
    with pytest.raises(ValueError, match="cardinality"):
        commit_transaction(
            spark,
            str(tmp_path / "_txn"),
            [
                TxnWrite(
                    df=None, table_path=t, op="chain",
                    chain=(
                        {
                            "op": "merge", "df": dup_src,
                            # every source id < target id: both source
                            # rows match target 5 -> ambiguous
                            "merge_kwargs": dict(
                                on="s.id < t.id",
                                matched=[(None, "update", {"v": "s.v"})],
                            ),
                        },
                        {
                            "op": "overwrite",
                            "df": spark.createDataFrame(
                                [(9, 9)], "id long, v int"
                            ),
                        },
                    ),
                ),
            ],
        )
    assert latest_version(spark, t) == 0


def test_chain_merge_change_data_refuses(spark, tmp_path):
    t = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1,)], "id long"), t)
    with pytest.raises(ValueError, match="change_data"):
        commit_transaction(
            spark,
            str(tmp_path / "_txn"),
            [
                TxnWrite(
                    df=None, table_path=t, op="chain",
                    chain=(
                        {"op": "delete", "condition": "false"},
                        {
                            "op": "merge",
                            "df": spark.createDataFrame([(2,)], "id long"),
                            "merge_kwargs": dict(
                                on="t.id = s.id",
                                not_matched=[(None, "*")],
                                change_data=True,
                            ),
                        },
                    ),
                ),
            ],
        )
    assert latest_version(spark, t) == 0


# ------------------------------------------------ SQL surface chains


def test_sql_merge_then_delete_in_txn(spark, tmp_path):
    """The SQL spelling of the headline composition: MERGE; DELETE on
    one table inside BEGIN TRANSACTION lands atomically as one
    version, alongside a second table's write."""
    t, audit = str(tmp_path / "t"), str(tmp_path / "audit")
    create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"), t
    )
    create_table(spark.createDataFrame([(0,)], "n long"), audit)
    sql = DeltaSql(spark, {"t": t, "audit": audit})
    spark.createDataFrame(
        [(2, 99), (3, 30)], "id long, v int"
    ).createOrReplaceTempView("updates")
    sql.run("BEGIN TRANSACTION")
    sql.run(
        "MERGE INTO t USING updates ON t.id = updates.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    sql.run("DELETE FROM t WHERE v >= 99")
    sql.run("INSERT INTO audit VALUES (1)")
    # nothing visible until COMMIT
    assert _rows(spark, t) == [(1, 10), (2, 20)]
    sql.run("COMMIT")
    assert _rows(spark, t) == [(1, 10), (3, 30)]
    assert _rows(spark, audit) == [(0,), (1,)]
    assert latest_version(spark, t) == 1
    # the UPDATE SET * / INSERT * shape is an ordinary MERGE step
    assert _read_manifest(spark, t, 1)["txn_ops"] == ["merge", "delete"]


def test_sql_update_then_merge_upsert_in_txn_rollback(spark, tmp_path):
    """The upsert MERGE form composes after other statements too, and
    ROLLBACK discards the whole chain."""
    t = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, 10)], "id long, v int"), t
    )
    sql = DeltaSql(spark, {"t": t})
    spark.createDataFrame(
        [(1, 77), (4, 44)], "id long, v int"
    ).createOrReplaceTempView("ups")
    sql.run("BEGIN TRANSACTION")
    sql.run("UPDATE t SET v = v + 1 WHERE id = 1")
    sql.run(
        "MERGE INTO t USING ups ON t.id = ups.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    sql.run("ROLLBACK")
    assert _rows(spark, t) == [(1, 10)]
    sql.run("BEGIN TRANSACTION")
    sql.run("UPDATE t SET v = v + 1 WHERE id = 1")
    sql.run(
        "MERGE INTO t USING ups ON t.id = ups.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    sql.run("COMMIT")
    # update ran first (11), then the merge overwrote with 77 + insert
    assert _rows(spark, t) == [(1, 77), (4, 44)]
    assert latest_version(spark, t) == 1


# -------------------------------------------------------- view DDL


def test_show_create_view_round_trips(spark, tmp_path):
    """SHOW CREATE VIEW output, re-executed, reproduces an identical
    view — the round-trip contract SHOW CREATE TABLE already keeps."""
    t = str(tmp_path / "t")
    create_table(
        spark.createDataFrame([(1, 5), (2, -1)], "id long, score int"), t
    )
    sql = DeltaSql(spark, {"t": t})
    sql.run("CREATE VIEW pos AS SELECT id FROM t WHERE score > 0")
    stmt = sql.run("SHOW CREATE VIEW pos").head()["createtab_stmt"]
    assert stmt == "CREATE OR REPLACE VIEW pos AS SELECT id FROM t WHERE score > 0"
    before = [r.id for r in sql.run("SELECT * FROM pos").collect()]
    sql.run(stmt)  # re-executes while the view exists (OR REPLACE)
    after = [r.id for r in sql.run("SELECT * FROM pos").collect()]
    assert before == after == [1]
    got = dict(
        (r.name, r.definition) for r in sql.run("SHOW VIEWS").collect()
    )
    assert got == {"pos": "SELECT id FROM t WHERE score > 0"}
    with pytest.raises(ValueError, match="does not exist"):
        sql.run("SHOW CREATE VIEW nope")


def test_alter_view_redefines_and_persists(spark, tmp_path):
    """ALTER VIEW ... AS redefines an EXISTING view (refuses a missing
    one), persists across sessions, validates at definition time, and
    the cycle guard still fires through ALTER."""
    t = str(tmp_path / "t")
    vdir = str(tmp_path / "views")
    create_table(
        spark.createDataFrame([(1, 5), (2, -1)], "id long, score int"), t
    )
    sql = DeltaSql(spark, {"t": t}, view_dir=vdir)
    with pytest.raises(ValueError, match="does not exist"):
        sql.run("ALTER VIEW v AS SELECT id FROM t")
    sql.run("CREATE VIEW v AS SELECT id FROM t WHERE score > 0")
    sql.run("ALTER VIEW v AS SELECT id FROM t WHERE score < 0")
    assert [r.id for r in sql.run("SELECT * FROM v").collect()] == [2]
    # a failed ALTER (bad reference) restores the old definition
    with pytest.raises(Exception):
        sql.run("ALTER VIEW v AS SELECT id FROM no_such")
    assert [r.id for r in sql.run("SELECT * FROM v").collect()] == [2]
    # cycle guard: v2 reads v; rewiring v onto v2 must refuse
    sql.run("CREATE VIEW v2 AS SELECT id FROM v")
    with pytest.raises(ValueError, match="cycle"):
        sql.run("ALTER VIEW v AS SELECT id FROM v2")
    # persistence: a fresh session over the same view_dir sees the
    # ALTERed definition
    sql2 = DeltaSql(spark, {"t": t}, view_dir=vdir)
    assert [r.id for r in sql2.run("SELECT * FROM v").collect()] == [2]
