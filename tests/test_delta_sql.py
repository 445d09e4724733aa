"""Delta-SQL string surface (round 12 — r11 verdict #4): one table's
full lifecycle driven through SQL strings only, every result equal to
the Python-verb twin run side by side on a second table."""

from __future__ import annotations

import pytest

from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
from wnv_etl_lab2_spark.sources.versioned import (
    _read_manifest,
    append_table,
    create_table,
    delete_from_table,
    latest_version,
    merge_upsert_table,
    optimize_table,
    purge_deletion_vectors,
    read_table,
    restore_table,
    table_history,
    update_table,
    vacuum_table,
)


def _snap(spark, tbl, version=None):
    return sorted(
        (r.id, r.v, r.score) for r in read_table(spark, tbl, version).collect()
    )


def test_full_lifecycle_sql_equals_python_verbs(spark, tmp_path):
    rows = [(i, f"v{i}", float(i)) for i in range(20)]
    schema = "id long, v string, score double"
    sql_tbl = str(tmp_path / "sql_tbl")
    py_tbl = str(tmp_path / "py_tbl")
    create_table(spark.createDataFrame(rows, schema).repartition(4), sql_tbl)
    create_table(spark.createDataFrame(rows, schema).repartition(4), py_tbl)
    append_table(spark.createDataFrame([(100, "x", 1.0)], schema), sql_tbl)
    append_table(spark.createDataFrame([(100, "x", 1.0)], schema), py_tbl)

    sql = DeltaSql(spark, {"events": sql_tbl})

    # DELETE
    assert sql.run("DELETE FROM events WHERE id % 5 = 0;") == 2
    delete_from_table(spark, py_tbl, "id % 5 = 0")
    assert _snap(spark, sql_tbl) == _snap(spark, py_tbl)

    # UPDATE (multi-assignment, expression with comma inside a call)
    v = sql.run(
        "UPDATE events SET score = score * 2, v = concat(v, '!') WHERE id < 10"
    )
    assert v == 3
    update_table(
        spark, py_tbl, {"score": "score * 2", "v": "concat(v, '!')"}, "id < 10"
    )
    assert _snap(spark, sql_tbl) == _snap(spark, py_tbl)

    # MERGE (upsert via a temp view source)
    ups = spark.createDataFrame([(1, "ONE", 0.0), (999, "new", 9.9)], schema)
    ups.createOrReplaceTempView("updates")
    sql.run(
        "MERGE INTO events AS t USING updates AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    merge_upsert_table(ups, py_tbl, key="id")
    assert _snap(spark, sql_tbl) == _snap(spark, py_tbl)

    # SELECT over the latest snapshot goes through spark.sql
    got = sql.run(
        "SELECT count(*) AS n, round(sum(score), 3) AS s FROM events WHERE id < 50"
    ).collect()[0]
    want = (
        read_table(spark, py_tbl)
        .where("id < 50")
        .selectExpr("count(*) AS n", "round(sum(score), 3) AS s")
        .collect()[0]
    )
    assert (got.n, got.s) == (want.n, want.s)

    # SELECT ... VERSION AS OF pins the exact old snapshot
    assert sorted(
        (r.id, r.v, r.score)
        for r in sql.run("SELECT * FROM events VERSION AS OF 2 ORDER BY id").collect()
    ) == _snap(spark, py_tbl, 2)

    # OPTIMIZE ZORDER BY
    sql.run("OPTIMIZE events ZORDER BY (id, score)")
    optimize_table(spark, py_tbl, zorder_by=("id", "score"))
    assert _snap(spark, sql_tbl) == _snap(spark, py_tbl)
    assert (
        _read_manifest(spark, sql_tbl, latest_version(spark, sql_tbl))["op"]
        == "optimize"
    )

    # DESCRIBE HISTORY mirrors table_history
    hist_sql = [(r.version, r.op) for r in sql.run("DESCRIBE HISTORY events").collect()]
    hist_py = [(r.version, r.op) for r in table_history(spark, py_tbl).collect()]
    assert hist_sql == hist_py

    # RESTORE
    sql.run("RESTORE TABLE events TO VERSION AS OF 1")
    restore_table(spark, py_tbl, 1)
    assert _snap(spark, sql_tbl) == _snap(spark, py_tbl)

    # VACUUM DRY RUN lists, deletes nothing; real VACUUM collects
    dry = sql.run("VACUUM events RETAIN 2 VERSIONS DRY RUN")
    assert dry == vacuum_table(spark, py_tbl, keep_last=2, dry_run=True)
    assert latest_version(spark, sql_tbl) == latest_version(spark, py_tbl)
    assert sql.run("VACUUM events RETAIN 2 VERSIONS") == vacuum_table(
        spark, py_tbl, keep_last=2
    )
    assert _snap(spark, sql_tbl) == _snap(spark, py_tbl)


def test_optimize_apply_purge_and_errors(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, i // 10) for i in range(30)], "id long, grp long"
        ).repartitionByRange(3, "grp"),
        tbl,
    )
    sql = DeltaSql(spark, {"t": tbl})
    delete_from_table(spark, tbl, "grp = 0 AND id < 9", mode="merge_on_read")
    want = {r.id for r in read_table(spark, tbl).collect()}

    v = sql.run("OPTIMIZE t APPLY (PURGE)")
    assert v is not None
    assert purge_deletion_vectors(spark, tbl) is None  # already purged
    m = _read_manifest(spark, tbl, latest_version(spark, tbl))
    assert "dv" not in m or sum(m.get("dv_counts", {}).values()) == 0
    assert {r.id for r in read_table(spark, tbl).collect()} == want

    with pytest.raises(ValueError, match="unknown table"):
        sql.run("DELETE FROM nope WHERE 1=1")
    # column-def CREATE is supported since round 13 — an UNREGISTERED
    # name fails the catalog lookup, a registered one creates
    with pytest.raises(ValueError, match="unknown table"):
        sql.run("CREATE TABLE t2 (id INT)")
    with pytest.raises(ValueError, match="unsupported CREATE"):
        sql.run("CREATE TABLE t LIKE t")
    # WHEN MATCHED THEN DELETE is now SUPPORTED (general grammar);
    # the router's error path still fires on a nonsense action
    with pytest.raises(ValueError, match="unsupported MATCHED action"):
        sql.run("MERGE INTO t USING t ON t.id = t.id WHEN MATCHED THEN FROB x")


def test_sql_time_travel_retention_and_cdf_tvf(spark, tmp_path, monkeypatch):
    """Round-12 SQL extensions: SELECT ... TIMESTAMP AS OF, RESTORE TO
    TIMESTAMP AS OF, VACUUM RETAIN n HOURS, and the table_changes TVF
    — each equal to its Python-verb twin."""
    import time as _time

    from wnv_etl_lab2_spark.operators.cdf import table_changes

    t0 = 1_800_000_000.0
    clock = {"now": t0}
    monkeypatch.setattr(_time, "time", lambda: clock["now"])

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(0, "a", 0.0), (1, "b", 1.0)],
                              "id long, v string, score double"), tbl
    )
    clock["now"] = t0 + 3600
    append_table(
        spark.createDataFrame([(2, "c", 2.0)], "id long, v string, score double"), tbl
    )
    clock["now"] = t0 + 7200
    delete_from_table(spark, tbl, "id = 0")

    sql = DeltaSql(spark, {"t": tbl})

    # TIMESTAMP AS OF: epoch-millis literal and ISO literal
    mid = int((t0 + 5400) * 1000)
    got = {r.id for r in sql.run(f"SELECT id FROM t TIMESTAMP AS OF {mid}").collect()}
    assert got == {0, 1, 2}
    import datetime as _dt

    iso = _dt.datetime.fromtimestamp(t0 + 1, _dt.timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S"
    )
    got0 = {r.id for r in sql.run(f"SELECT id FROM t TIMESTAMP AS OF '{iso}'").collect()}
    assert got0 == {0, 1}

    # table_changes TVF == operators/cdf.table_changes
    tvf = sql.run("SELECT id, _change_type FROM table_changes('t', 'id', 0, 2)")
    want = {
        (r.id, r._change_type)
        for r in table_changes(spark, tbl, "id", 0, 2).select("id", "_change_type").collect()
    }
    assert {(r.id, r._change_type) for r in tvf.collect()} == want and want

    # RESTORE TO TIMESTAMP AS OF lands on the same version the helper picks
    clock["now"] = t0 + 9000
    sql.run(f"RESTORE TABLE t TO TIMESTAMP AS OF {mid}")
    assert {r.id for r in read_table(spark, tbl).collect()} == {0, 1, 2}

    # VACUUM RETAIN n HOURS == vacuum_table(retain_hours=n)
    dry = sql.run("VACUUM t RETAIN 1.2 HOURS DRY RUN")
    assert dry == vacuum_table(spark, tbl, retain_hours=1.2, dry_run=True)
    assert sql.run("VACUUM t RETAIN 1.2 HOURS") == dry
    assert {r.id for r in read_table(spark, tbl).collect()} == {0, 1, 2}


def test_sql_ctas_insert_and_constraints(spark, tmp_path):
    """Round-12 SQL completions: CREATE TABLE AS SELECT, INSERT INTO
    (VALUES and SELECT forms, positional like SQL), and ALTER TABLE
    ADD/DROP CONSTRAINT — equal to the Python verbs and enforced on
    subsequent writes."""
    from wnv_etl_lab2_spark.sources.versioned import table_constraints

    src = str(tmp_path / "src")
    derived = str(tmp_path / "derived")
    create_table(
        spark.createDataFrame(
            [(i, f"v{i}", float(i)) for i in range(10)],
            "id long, v string, score double",
        ),
        src,
    )
    sql = DeltaSql(spark, {"events": src, "derived": derived})

    # CTAS into a registered-but-uncreated path
    assert sql.run("CREATE TABLE derived AS SELECT id, score FROM events WHERE id < 5") == 0
    assert {r.id for r in read_table(spark, derived).collect()} == set(range(5))

    # INSERT VALUES is positional against the table schema
    v = sql.run("INSERT INTO derived VALUES (100, 9.5)")
    assert v == 1
    got = {r.id: r.score for r in read_table(spark, derived).collect()}
    assert got[100] == 9.5

    # INSERT ... SELECT appends a derived frame
    sql.run("INSERT INTO derived SELECT id, score FROM events WHERE id >= 8")
    assert {r.id for r in read_table(spark, derived).collect()} == set(range(5)) | {100, 8, 9}

    # arity mismatch refuses before writing anything
    with pytest.raises(ValueError, match="arity"):
        sql.run("INSERT INTO derived VALUES (1, 2.0, 'extra')")

    # constraints via SQL, enforced on the next SQL write
    sql.run("ALTER TABLE derived ADD CONSTRAINT score_pos CHECK (score >= 0)")
    assert table_constraints(spark, derived) == {"score_pos": "score >= 0"}
    with pytest.raises(ValueError, match="CHECK constraint violation"):
        sql.run("INSERT INTO derived VALUES (200, -1.0)")
    sql.run("ALTER TABLE derived DROP CONSTRAINT score_pos")
    assert table_constraints(spark, derived) == {}
    sql.run("INSERT INTO derived VALUES (200, -1.0)")  # now allowed
    assert 200 in {r.id for r in read_table(spark, derived).collect()}


def test_select_rewrite_ignores_string_literals(spark, tmp_path):
    """Round-12 router fix: a string literal containing a registered
    table name must NOT be rewritten to the temp-view name."""
    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(1, "events"), (2, "other")], "id long, v string"
        ),
        tbl,
    )
    sql = DeltaSql(spark, {"events": tbl})
    got = sql.run("SELECT id FROM events WHERE v = 'events'").collect()
    assert [r.id for r in got] == [1]
    # literal-with-quotes edge: doubled quote escape stays intact
    got2 = sql.run(
        "SELECT count(*) AS n FROM events WHERE v <> 'events'' ago'"
    ).collect()
    assert got2[0].n == 2


def test_read_change_data_tvf(spark, tmp_path):
    """read_change_data('t', v1[, v2]) binds the persisted row-level
    feed — equal to the Python API, vocabulary included."""
    from wnv_etl_lab2_spark.operators.cdf import read_change_data

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(0, "a"), (1, "b")], "id long, v string"), tbl
    )
    update_table(spark, tbl, {"v": "upper(v)"}, "id = 1", change_data=True)
    sql = DeltaSql(spark, {"t": tbl})
    got = {
        (r.id, r._change_type, r._commit_version)
        for r in sql.run(
            "SELECT id, _change_type, _commit_version "
            "FROM read_change_data('t', 0)"
        ).collect()
    }
    want = {
        (r.id, r._change_type, r._commit_version)
        for r in read_change_data(spark, tbl, 0)
        .select("id", "_change_type", "_commit_version")
        .collect()
    }
    assert got == want
    assert {t for _, t, _ in got} == {"update_preimage", "update_postimage"}


def test_sql_column_ddl(spark, tmp_path):
    """ALTER TABLE RENAME/DROP COLUMN through SQL strings."""
    from wnv_etl_lab2_spark.sources.versioned import table_schema

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, "a", 1.0)], "id long, v string, score double"),
        tbl,
    )
    sql = DeltaSql(spark, {"t": tbl})
    sql.run("ALTER TABLE t RENAME COLUMN score TO weight")
    assert table_schema(spark, tbl).names == ["id", "v", "weight"]
    sql.run("ALTER TABLE t DROP COLUMN v")
    assert table_schema(spark, tbl).names == ["id", "weight"]
    assert {r.weight for r in sql.run("SELECT weight FROM t").collect()} == {1.0}


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL: one-row summary — version, commit stamp, file/
    row counts, current snapshot bytes, feature flags — metadata-only."""
    from wnv_etl_lab2_spark.sources.versioned import (
        add_check_constraint,
        collect_blooms,
        delete_from_table,
    )

    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, f"s{i % 3}") for i in range(30)], "id long, source string"
        ).repartition(3),
        tbl,
        stats_cols=["id"],
    )
    add_check_constraint(spark, tbl, "id_pos", "id >= 0")
    collect_blooms(spark, tbl, ["source"])
    delete_from_table(spark, tbl, "id = 0", mode="merge_on_read")

    sql = DeltaSql(spark, {"t": tbl})
    d = sql.run("DESCRIBE DETAIL t").collect()[0]
    assert d.version == 3 and d.num_versions == 4
    assert d.num_files == 3 and d.num_rows == 29  # DV-adjusted count
    assert d.size_bytes > 0 and d.ts_ms is not None
    assert d.has_dv and d.has_blooms
    assert d.stats_cols == ["id"] and d.constraints == ["id_pos"]
    assert d.location.endswith("tbl")
    # round 15: the manifest's required-feature stamps surface too
    assert set(d.table_features) == {"check_constraints", "deletion_vectors"}


def test_sql_general_merge_clause_matrix(spark, tmp_path):
    """Full MERGE grammar through SQL strings: conditional DELETE,
    conditional UPDATE with t./s. expressions, conditional INSERT
    (cols) VALUES (exprs), alias canonicalization — equal to the
    merge_into_table twin."""
    from wnv_etl_lab2_spark.sources.versioned import merge_into_table

    schema = "id long, v string, n long"
    rows = [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)]
    sql_tbl, py_tbl = str(tmp_path / "sql"), str(tmp_path / "py")
    create_table(spark.createDataFrame(rows, schema), sql_tbl)
    create_table(spark.createDataFrame(rows, schema), py_tbl)
    src = spark.createDataFrame(
        [(1, "DEL", 0), (2, "upd", 5), (3, "skip", 0), (9, "new", 90)],
        "id long, op string, delta int",
    )
    src.createOrReplaceTempView("changes")

    sql = DeltaSql(spark, {"events": sql_tbl})
    sql.run(
        "MERGE INTO events AS e USING changes AS c ON e.id = c.id "
        "WHEN MATCHED AND c.op = 'DEL' THEN DELETE "
        "WHEN MATCHED AND c.op = 'upd' THEN UPDATE SET "
        "v = concat(e.v, '+', c.op), n = e.n + c.delta "
        "WHEN NOT MATCHED AND c.op = 'new' THEN "
        "INSERT (id, v, n) VALUES (c.id, c.op, c.delta)"
    )
    merge_into_table(
        spark, py_tbl, src, on="t.id = s.id",
        matched=[
            ("s.op = 'DEL'", "delete", None),
            ("s.op = 'upd'", "update", {"v": "concat(t.v, '+', s.op)", "n": "t.n + s.delta"}),
        ],
        not_matched=[("s.op = 'new'", {"id": "s.id", "v": "s.op", "n": "s.delta"})],
    )
    got = {(r.id, r.v, r.n) for r in read_table(spark, sql_tbl).collect()}
    want = {(r.id, r.v, r.n) for r in read_table(spark, py_tbl).collect()}
    assert got == want == {
        (2, "b+upd", 25), (3, "c", 30), (4, "d", 40), (9, "new", 90)
    }

    # the upsert form is the same clause matrix (UPDATE SET * / INSERT *)
    ups = spark.createDataFrame([(2, "Z", 0), (7, "q", 7)], schema)
    ups.createOrReplaceTempView("ups")
    sql.run(
        "MERGE INTO events USING ups ON events.id = ups.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    got = {r.id for r in read_table(spark, sql_tbl).collect()}
    assert got == {2, 3, 4, 7, 9}


def test_sql_merge_not_matched_by_source(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE (Delta 2.3 parity): full-sync merge —
    source-absent target rows delete (or update), conditions honored,
    through both the Python verb and the SQL grammar."""
    from wnv_etl_lab2_spark.sources.versioned import merge_into_table

    schema = "id long, v string, active boolean"
    rows = [(1, "a", True), (2, "b", True), (3, "c", True)]
    sql_tbl, py_tbl = str(tmp_path / "sql"), str(tmp_path / "py")
    create_table(spark.createDataFrame(rows, schema), sql_tbl)
    create_table(spark.createDataFrame(rows, schema), py_tbl)
    src = spark.createDataFrame([(1, "A"), (9, "new")], "id long, v string")
    src.createOrReplaceTempView("sync_src")

    sql = DeltaSql(spark, {"t": sql_tbl})
    sql.run(
        "MERGE INTO t USING sync_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (id, v, active) VALUES (s.id, s.v, true) "
        "WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET active = false"
    )
    merge_into_table(
        spark, py_tbl, src, on="t.id = s.id",
        matched=[(None, "update", {"v": "s.v"})],
        not_matched=[(None, {"id": "s.id", "v": "s.v", "active": "true"})],
        not_matched_by_source=[
            ("t.id = 2", "delete", None),
            (None, "update", {"active": "false"}),
        ],
    )
    got = {(r.id, r.v, r.active) for r in read_table(spark, sql_tbl).collect()}
    want = {(r.id, r.v, r.active) for r in read_table(spark, py_tbl).collect()}
    assert got == want == {
        (1, "A", True),      # matched update
        (3, "c", False),     # not-matched-by-source update
        (9, "new", True),    # insert
    }  # id=2 deleted by the conditional BY SOURCE clause

    with pytest.raises(ValueError, match="meaningless"):
        merge_into_table(
            spark, py_tbl, src, on="t.id = s.id",
            not_matched_by_source=[(None, "update", "*")],
        )


def test_sql_shallow_clone(spark, tmp_path):
    """CREATE TABLE x SHALLOW CLONE y through SQL: zero-copy, then the
    clone and source diverge independently."""
    src, mirror = str(tmp_path / "src"), str(tmp_path / "mirror")
    create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), src
    )
    sql = DeltaSql(spark, {"events": src, "mirror": mirror})
    assert sql.run("CREATE TABLE mirror SHALLOW CLONE events") == 0
    assert {r.id for r in sql.run("SELECT id FROM mirror").collect()} == {1, 2}
    sql.run("DELETE FROM mirror WHERE id = 1")
    assert {r.id for r in sql.run("SELECT id FROM mirror").collect()} == {2}
    assert {r.id for r in sql.run("SELECT id FROM events").collect()} == {1, 2}


def test_bare_vacuum_retains_default_168h(spark, tmp_path):
    """Round-13 advisory fix: VACUUM with no RETAIN clause keeps
    Delta's 7-day default retention instead of keep_last=1 — fresh
    history survives a routine bare VACUUM; an explicit RETAIN 1
    VERSIONS still collects it."""
    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(1, "a", 0.0)], "id long, v string, score double"), tbl)
    append_table(spark.createDataFrame([(2, "b", 1.0)], "id long, v string, score double"), tbl)
    sql = DeltaSql(spark, {"t": tbl})
    assert sql.run("VACUUM t") == []  # everything younger than 168h
    assert read_table(spark, tbl, 0).count() == 1  # time travel intact
    assert sql.run("VACUUM t RETAIN 1 VERSIONS") == [0]
    with pytest.raises(ValueError, match="vacuumed or never committed"):
        read_table(spark, tbl, 0).count()


def test_merge_alias_named_t_or_s(spark, tmp_path):
    """Round-13 advisory fix: user aliases literally named 't'/'s'
    (including crossed: target AS s, source AS t) rewrite in a single
    placeholder pass instead of sequentially mis-binding."""
    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, 10), (2, 20)], "id long, n long"), tbl
    )
    spark.createDataFrame(
        [(1, 100), (9, 900)], "id long, n long"
    ).createOrReplaceTempView("upd_ts")
    sql = DeltaSql(spark, {"tgt": tbl})
    # source aliased 't', target aliased 's' — the crossed worst case
    sql.run(
        "MERGE INTO tgt AS s USING upd_ts AS t ON s.id = t.id "
        "WHEN MATCHED THEN UPDATE SET n = s.n + t.n "
        "WHEN NOT MATCHED THEN INSERT (id, n) VALUES (t.id, t.n)"
    )
    got = {(r.id, r.n) for r in read_table(spark, tbl).collect()}
    assert got == {(1, 110), (2, 20), (9, 900)}


def test_timestamp_as_of_inside_literal_untouched(spark, tmp_path, monkeypatch):
    """Round-13 advisory fix: the TIMESTAMP AS OF rewrite is quote-
    aware — a string literal containing the shape stays a literal,
    while a genuine reference still rewrites."""
    import time as _time

    t0 = 1_800_000_000.0
    clock = {"now": t0}
    monkeypatch.setattr(_time, "time", lambda: clock["now"])
    tbl = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(1, "x")], "id long, v string"), tbl)
    clock["now"] = t0 + 3600
    append_table(
        spark.createDataFrame(
            [(2, "ev TIMESTAMP AS OF '2020-01-01'")], "id long, v string"
        ),
        tbl,
    )
    sql = DeltaSql(spark, {"ev": tbl})
    # literal containing the shape: NOT a time travel reference
    got = sql.run(
        "SELECT id FROM ev WHERE v = 'ev TIMESTAMP AS OF ''2020-01-01'''"
    ).collect()
    assert [r.id for r in got] == [2]
    # genuine reference in the same statement still pins the snapshot
    mid = str(int((t0 + 1800) * 1000))
    got2 = sql.run(f"SELECT count(*) AS n FROM ev TIMESTAMP AS OF {mid}").collect()
    assert got2[0].n == 1


def test_update_where_inside_quoted_set_value(spark, tmp_path):
    """Round-13 advisory fix: UPDATE's SET/WHERE split is quote- and
    paren-aware — a quoted SET value containing ' WHERE ' no longer
    truncates the assignment."""
    tbl = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), tbl
    )
    sql = DeltaSql(spark, {"t": tbl})
    sql.run("UPDATE t SET v = 'x WHERE y' WHERE id = 1")
    got = {(r.id, r.v) for r in read_table(spark, tbl).collect()}
    assert got == {(1, "x WHERE y"), (2, "b")}
    # WHERE inside a parenthesized subexpression is not the split point
    sql.run("UPDATE t SET v = concat(v, ' WHERE ') WHERE id = 2")
    got = {(r.id, r.v) for r in read_table(spark, tbl).collect()}
    assert got == {(1, "x WHERE y"), (2, "b WHERE ")}


def test_insert_column_list_truncate_and_overwrite(spark, tmp_path):
    """Round 13 DML forms: INSERT INTO t (cols) binds the named subset
    (identity allocates, generated computes for the omitted rest),
    INSERT OVERWRITE replaces the snapshot, TRUNCATE TABLE logically
    empties it while history stays time-travelable."""
    from wnv_etl_lab2_spark.sources.versioned import read_table

    path = str(tmp_path / "dml")
    sql = DeltaSql(spark, {"t": path})
    # BY DEFAULT identity: supplied values are legal (the OVERWRITE
    # below writes rid explicitly); ALWAYS-refusal is pinned in
    # test_identity_always_vs_by_default (round 14)
    sql.run(
        "CREATE TABLE t ("
        "  rid BIGINT GENERATED BY DEFAULT AS IDENTITY,"
        "  name STRING,"
        "  amount BIGINT,"
        "  total BIGINT GENERATED ALWAYS AS (amount * 2)"
        ")"
    )
    sql.run("INSERT INTO t (name, amount) VALUES ('a', 3), ('b', 4)")
    rows = {
        (r.name, r.amount, r.total) for r in read_table(spark, path).collect()
    }
    assert rows == {("a", 3, 6), ("b", 4, 8)}
    assert sorted(r.rid for r in read_table(spark, path).collect()) == [1, 2]

    # out-of-schema-order column list binds by NAME
    sql.run("INSERT INTO t (amount, name) VALUES (5, 'c')")
    assert ("c", 5, 10) in {
        (r.name, r.amount, r.total) for r in read_table(spark, path).collect()
    }

    sql.run("TRUNCATE TABLE t")
    assert read_table(spark, path).count() == 0
    # history is intact: the pre-truncate snapshot still reads
    assert read_table(spark, path, version=2).count() == 3

    sql.run(
        "INSERT OVERWRITE t SELECT 99 AS rid, 'z' AS name, "
        "1 AS amount, 2 AS total"
    )
    assert {(r.rid, r.name) for r in read_table(spark, path).collect()} == {
        (99, "z")
    }


def test_bare_delete_empties_table(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import read_table

    path = str(tmp_path / "bd")
    create_table(spark.createDataFrame([(1,), (2,)], "id long"), path)
    sql = DeltaSql(spark, {"t": path})
    assert sql.run("DELETE FROM t") == 1  # new version committed
    assert read_table(spark, path).count() == 0
    assert read_table(spark, path, version=0).count() == 2  # time travel


def test_show_create_table_round_trips(spark, tmp_path):
    """SHOW CREATE TABLE reconstructs the full declaration — columns
    with NOT NULL/GENERATED/IDENTITY, PARTITIONED BY, TBLPROPERTIES,
    plain CHECKs as ALTER lines — and the emitted DDL ROUND-TRIPS:
    running it on a fresh path yields identical declarations."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        table_constraints,
        table_properties,
        table_schema,
    )

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    sql = DeltaSql(spark, {"a": src, "b": dst})
    sql.run(
        "CREATE TABLE a ("
        "  rid BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 7 INCREMENT BY 3),"
        "  name STRING NOT NULL,"
        "  amount BIGINT,"
        "  total BIGINT GENERATED ALWAYS AS (amount * 2),"
        "  lang STRING"
        ") PARTITIONED BY (lang) TBLPROPERTIES ('owner' = 'x')"
    )
    sql.run("ALTER TABLE a ADD CONSTRAINT pos CHECK (amount >= 0)")
    stmt = sql.run("SHOW CREATE TABLE a").collect()[0]["createtab_stmt"]
    assert "GENERATED ALWAYS AS IDENTITY (START WITH 7 INCREMENT BY 3)" in stmt
    assert "name STRING NOT NULL" in stmt
    assert "GENERATED ALWAYS AS (amount * 2)" in stmt
    assert "PARTITIONED BY (lang)" in stmt
    assert "'owner' = 'x'" in stmt
    assert "ADD CONSTRAINT pos CHECK (amount >= 0)" in stmt

    for piece in stmt.replace("TABLE a", "TABLE b").split(";\n"):
        sql.run(piece)
    assert table_schema(spark, dst).json() == table_schema(spark, src).json()
    assert table_constraints(spark, dst) == table_constraints(spark, src)
    assert table_properties(spark, dst) == table_properties(spark, src)
    ma = _read_manifest(spark, src, 0)
    mb = _read_manifest(spark, dst, 0)
    assert mb["identity"] == ma["identity"]
    assert mb["generated"] == ma["generated"]
    assert mb["partition_by"] == ma["partition_by"]

    # nested types keep their struct field names' case
    nested_src, nested_dst = str(tmp_path / "c"), str(tmp_path / "d")
    sql = DeltaSql(spark, {"c": nested_src, "d": nested_dst})
    sql.run(
        "CREATE TABLE c (s STRUCT<inner_x: INT, y: STRING>, m MAP<STRING, INT>)"
    )
    stmt = sql.run("SHOW CREATE TABLE c").collect()[0]["createtab_stmt"]
    sql.run(stmt.replace("TABLE c", "TABLE d"))
    assert (
        table_schema(spark, nested_dst).json()
        == table_schema(spark, nested_src).json()
    )


def test_shallow_clone_version_as_of(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.versioned import read_table

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    create_table(spark.createDataFrame([(1,)], "id long"), src)
    append_table(spark.createDataFrame([(2,)], "id long"), src)
    sql = DeltaSql(spark, {"s": src, "c": dst})
    sql.run("CREATE TABLE c SHALLOW CLONE s VERSION AS OF 0")
    assert {r.id for r in read_table(spark, dst).collect()} == {1}
    assert {r.id for r in read_table(spark, src).collect()} == {1, 2}


# --------------------------------------------- BEGIN/COMMIT (round 15)


def test_sql_transaction_two_table_atomic_commit(spark, tmp_path):
    """r14 verdict "what's missing" #4: the SQL-only user reaches the
    engine's all-or-nothing multi-table commit via BEGIN TRANSACTION /
    COMMIT — nothing is visible between the statements, everything is
    after."""
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sql = DeltaSql(spark, {"a": a, "b": b})
    sql.run("CREATE TABLE a (id BIGINT, v STRING)")
    sql.run("CREATE TABLE b (id BIGINT, total BIGINT)")
    sql.run("INSERT INTO a VALUES (1, 'x')")
    sql.run("INSERT INTO b VALUES (1, 10)")

    assert sql.run("BEGIN TRANSACTION") is None
    assert sql.run("INSERT INTO a VALUES (2, 'y')") is None  # staged
    assert sql.run("INSERT OVERWRITE b VALUES (1, 11), (2, 1)") is None
    # nothing visible pre-COMMIT (reads see the pre-txn snapshots)
    assert read_table(spark, a).count() == 1
    assert read_table(spark, b).count() == 1
    out = sql.run("COMMIT")
    assert set(out.values()) == {2}  # both tables advanced atomically
    assert sorted((r.id, r.v) for r in read_table(spark, a).collect()) == [
        (1, "x"), (2, "y"),
    ]
    assert sorted(
        (r.id, r.total) for r in read_table(spark, b).collect()
    ) == [(1, 11), (2, 1)]


def test_sql_transaction_rollback_and_guards(spark, tmp_path):
    a = str(tmp_path / "a")
    sql = DeltaSql(spark, {"a": a})
    sql.run("CREATE TABLE a (id BIGINT)")
    sql.run("BEGIN")
    sql.run("INSERT INTO a VALUES (1)")
    # reads stay allowed inside the txn and see committed state only
    assert sql.run("SELECT COUNT(*) AS n FROM a").collect()[0].n == 0
    # DML is transactional since round 16 — it CHAINS after the staged
    # INSERT (sequential semantics; exercised in test_round16_protocol)
    sql.run("DELETE FROM a WHERE id = 1")
    # non-write verbs stay refused inside a transaction
    with pytest.raises(ValueError, match="not allowed inside"):
        sql.run("OPTIMIZE a")
    with pytest.raises(ValueError, match="already open"):
        sql.run("BEGIN TRANSACTION")
    assert sql.run("ROLLBACK") is None
    assert read_table(spark, a).count() == 0
    assert latest_version(spark, a) == 0  # no version slot ever claimed
    with pytest.raises(ValueError, match="no open transaction"):
        sql.run("COMMIT")
    with pytest.raises(ValueError, match="no open transaction"):
        sql.run("ROLLBACK")
    # the router works normally after a rollback
    sql.run("INSERT INTO a VALUES (7)")
    assert read_table(spark, a).count() == 1


def test_sql_transaction_repeated_inserts_compose(spark, tmp_path):
    """Multiple statements against one table inside a txn fold into
    the single per-table write commit_transaction requires: appends
    union; an OVERWRITE discards prior staged writes; an append after
    an overwrite lands with it."""
    a = str(tmp_path / "a")
    sql = DeltaSql(spark, {"a": a})
    sql.run("CREATE TABLE a (id BIGINT)")
    sql.run("INSERT INTO a VALUES (0)")
    sql.run("BEGIN")
    sql.run("INSERT INTO a VALUES (1)")
    sql.run("INSERT INTO a VALUES (2)")
    sql.run("COMMIT")
    assert sorted(r.id for r in read_table(spark, a).collect()) == [0, 1, 2]

    sql.run("BEGIN")
    sql.run("INSERT INTO a VALUES (50)")
    sql.run("INSERT OVERWRITE a VALUES (100)")  # discards the staged 50
    sql.run("INSERT INTO a VALUES (101)")  # unions into the overwrite
    sql.run("COMMIT")
    assert sorted(r.id for r in read_table(spark, a).collect()) == [100, 101]
    # ONE version landed for the whole composed transaction
    assert latest_version(spark, a) == 3


def test_sql_transaction_failure_leaves_both_tables_untouched(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    sql = DeltaSql(spark, {"a": a, "b": b})
    sql.run("CREATE TABLE a (id BIGINT)")
    sql.run("CREATE TABLE b (id BIGINT)")
    sql.run("ALTER TABLE b ADD CONSTRAINT pos CHECK (id > 0)")
    sql.run("BEGIN")
    sql.run("INSERT INTO a VALUES (1)")
    sql.run("INSERT INTO b VALUES (-5)")  # violates b's CHECK at stage
    with pytest.raises(ValueError):
        sql.run("COMMIT")
    # atomicity: a's staged write must not have landed either
    assert read_table(spark, a).count() == 0
    assert read_table(spark, b).count() == 0
    assert latest_version(spark, a) == 0 and latest_version(spark, b) == 1


def test_sql_upsert_merge_checks_cardinality(spark, tmp_path):
    """The upsert spelling runs the same cardinality check as every
    other MERGE: a source key matching one target row twice raises and
    commits nothing; the same statement with a clause condition agrees."""
    tbl = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), tbl)
    spark.createDataFrame(
        [(2, "x"), (2, "y")], "id long, v string"
    ).createOrReplaceTempView("dup")
    sql = DeltaSql(spark, {"t": tbl})
    for matched in ("WHEN MATCHED", "WHEN MATCHED AND true"):
        with pytest.raises(ValueError, match="cardinality"):
            sql.run(
                f"MERGE INTO t USING dup ON t.id = dup.id {matched} THEN "
                "UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
            )
        assert latest_version(spark, tbl) == 0
    assert sorted(tuple(r) for r in read_table(spark, tbl).collect()) == [
        (1, "a"), (2, "b"),
    ]
