"""The SQL surface on Spark's own parser: `DeltaSql` reads statement
structure from `sessionState().sqlParser().parsePlan` and slices
expression text by each node's `origin()` span. The first test pins the
internal parser API the router reads (no table writes), so a pyspark
upgrade that moves a node or a span fails here; the rest run
statements a hand tokenizer refused or silently rewrote."""

from __future__ import annotations

import pytest
from pyspark.errors import ParseException

from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
from wnv_etl_lab2_spark.sources.versioned import (
    append_table,
    create_table,
    read_table,
    table_schema,
)


def _seq(xs) -> list:
    it = xs.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _text(node, sql: str) -> str:
    o = node.origin()
    return sql[o.startIndex().get() : o.stopIndex().get() + 1]


def test_spark_parser_gives_the_structure_the_router_reads(spark):
    parse = spark._jsparkSession.sessionState().sqlParser().parsePlan

    merge = (
        "MERGE INTO events AS e USING upd AS u ON e.id = u.id "
        "WHEN MATCHED AND u.v > 0 THEN UPDATE SET "
        "score = CASE WHEN u.score > 0 THEN u.score ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    p = parse(merge)
    assert _kind(p) == "MergeIntoTable"
    assert _text(p.mergeCondition(), merge) == "e.id = u.id"
    assert p.targetTable().alias() == "e"
    assert _kind(p.targetTable().child()) == "UnresolvedRelation"
    assert p.sourceTable().alias() == "u"
    leaves = _seq(p.mergeCondition().collectLeaves())
    assert [(_kind(x), _text(x, merge)) for x in leaves] == [
        ("UnresolvedAttribute", "e.id"),
        ("UnresolvedAttribute", "u.id"),
    ]
    assert [_seq(x.nameParts()) for x in leaves] == [["e", "id"], ["u", "id"]]
    (update,) = _seq(p.matchedActions())
    assert _kind(update) == "UpdateAction"
    assert _text(update.condition().get(), merge) == "u.v > 0"
    (a,) = _seq(update.assignments())
    assert _text(a.value(), merge) == (
        "CASE WHEN u.score > 0 THEN u.score ELSE 0 END"
    )
    # an assignment key spans the whole `k = v`: names come from parts
    assert _text(a.key(), merge).startswith("score = CASE WHEN")
    assert _seq(a.key().nameParts()) == ["score"]
    assert [_kind(x) for x in _seq(p.notMatchedActions())] == ["InsertStarAction"]
    assert [_kind(x) for x in _seq(p.notMatchedBySourceActions())] == [
        "DeleteAction"
    ]
    assert p.withSchemaEvolution() is False

    upd = "UPDATE events SET v = DEFAULT WHERE id = 8"
    p = parse(upd)
    assert _kind(p) == "UpdateTable"
    (a,) = _seq(p.assignments())
    assert _kind(a.value()) == "UnresolvedAttribute"
    assert _text(a.value(), upd) == "DEFAULT"
    assert _text(p.condition().get(), upd) == "id = 8"
    p = parse("DELETE FROM events")
    assert _kind(p) == "DeleteFromTable"
    assert _kind(p.condition()) == "Literal" and p.condition().sql() == "true"
    # the literal `true` is one object shared between statements, so
    # its origin is at most one statement's
    ident = spark._jvm.java.lang.System.identityHashCode
    shared = parse("UPDATE events SET v = true").assignments().head().value()
    assert ident(shared) == ident(p.condition())
    # a predicate's own span starts after its left operand
    pred = "DELETE FROM events WHERE id IN (1, 2)"
    p = parse(pred)
    assert _text(p.condition(), pred) == "IN (1, 2)"
    assert _text(p.condition().children().head(), pred) == "id"

    ins = "INSERT INTO events (id, v) SELECT id, v FROM upd WHERE id > 1"
    p = parse(ins)
    assert _kind(p) == "InsertIntoStatement"
    assert _seq(p.userSpecifiedCols()) == ["id", "v"]
    assert p.overwrite() is False
    # the statement's own span is its INSERT INTO clause
    assert _text(p, ins) == "INSERT INTO events (id, v)"
    # a query's own span can be one clause of it
    agg = "INSERT INTO t SELECT v, count(*) AS n FROM upd GROUP BY v"
    p = parse(agg)
    assert _text(p, agg) == "INSERT INTO t"
    assert _kind(p.query()) == "Aggregate"
    assert _text(p.query(), agg) == "GROUP BY v"
    vals = "INSERT OVERWRITE events VALUES (1, 'a,b')"
    p = parse(vals)
    assert p.overwrite() is True
    assert _kind(p.query()) == "LocalRelation"

    ddl = (
        "CREATE TABLE t (id BIGINT NOT NULL, s STRUCT<inner_x: INT>, "
        "d STRING DEFAULT 'x,y', g BIGINT GENERATED ALWAYS AS (id + 1), "
        "i BIGINT GENERATED BY DEFAULT AS IDENTITY "
        "(START WITH 5 INCREMENT BY 2)) PARTITIONED BY (d)"
    )
    p = parse(ddl)
    assert _kind(p) == "CreateTable"
    assert _seq(p.name().nameParts()) == ["t"]
    cols = {c.name(): c for c in _seq(p.columns())}
    assert cols["id"].nullable() is False
    assert cols["s"].dataType().json() == (
        '{"type":"struct","fields":[{"name":"inner_x","type":"integer",'
        '"nullable":true,"metadata":{}}]}'
    )
    assert cols["d"].defaultValue().get().originalSQL() == "'x,y'"
    assert cols["g"].generationExpression().get() == "id + 1"
    spec = cols["i"].identityColumnSpec().get()
    assert (spec.getStart(), spec.getStep(), spec.isAllowExplicitInsert()) == (
        5, 2, True,
    )
    (t,) = _seq(p.partitioning())
    assert t.name() == "identity"
    assert list(t.references()[0].fieldNames()) == ["d"]
    ctas = "CREATE OR REPLACE TABLE t AS SELECT 1 AS x"
    p = parse(ctas)
    assert _kind(p) == "ReplaceTableAsSelect"
    assert _text(p.name(), ctas) == "t"
    # Spark refuses a reserved property key, so the router cuts a
    # trailing TBLPROPERTIES list before parsing
    with pytest.raises(ParseException, match="SET_TABLE_PROPERTY"):
        parse("CREATE TABLE t (id INT) TBLPROPERTIES ('owner' = 'x')")

    tvf = "SELECT * FROM table_changes('events', 'id', 0) AS c"
    node = parse(tvf).child()
    assert _kind(node) == "SubqueryAlias" and node.alias() == "c"
    fn = node.child()
    assert _kind(fn) == "UnresolvedTableValuedFunction"
    assert _seq(fn.name()) == ["table_changes"]
    # a TVF span includes its alias
    assert _text(fn, tvf) == "table_changes('events', 'id', 0) AS c"
    assert [(_kind(x), x.toString()) for x in _seq(fn.functionArgs())] == [
        ("Literal", "events"), ("Literal", "id"), ("Literal", "0"),
    ]
    tt = "SELECT * FROM events VERSION AS OF 2"
    node = parse(tt).child()
    assert _kind(node) == "RelationTimeTravel"
    # a RelationTimeTravel span covers only the AS OF clause
    assert _text(node, tt) == "VERSION AS OF 2"
    assert _text(node.relation(), tt) == "events"
    assert node.version().get() == "2"
    ts = "SELECT * FROM events TIMESTAMP AS OF '2026-08-15'"
    node = parse(ts).child()
    assert _text(node.timestamp().get(), ts) == "'2026-08-15'"
    cte = "WITH events AS (SELECT 42 AS id) SELECT * FROM events e"
    p = parse(cte)
    assert _kind(p) == "UnresolvedWith"
    assert [x._1() for x in _seq(p.cteRelations())] == ["events"]
    rel = _seq(p.child().children())[0]
    assert _kind(rel) == "SubqueryAlias" and rel.alias() == "e"
    assert _seq(rel.child().multipartIdentifier()) == ["events"]
    sub = "SELECT id FROM logs WHERE id IN (SELECT id FROM events)"
    (q,) = _seq(parse(sub).child().subqueries())
    assert _kind(_seq(q.children())[0]) == "UnresolvedRelation"


def test_merge_case_when_clauses_and_double_quoted_literal(spark, tmp_path):
    tbl = str(tmp_path / "events")
    create_table(
        spark.createDataFrame(
            [(1, "a", 5), (2, "b", 5)], "id long, v string, score long"
        ),
        tbl,
    )
    spark.createDataFrame(
        [(1, "z", -3), (2, "z", 4), (3, "z", 7)], "id long, v string, score long"
    ).createOrReplaceTempView("upd_case")
    DeltaSql(spark, {"events": tbl}).run(
        "MERGE INTO events AS e USING upd_case AS u ON e.id = u.id "
        "WHEN MATCHED AND CASE WHEN u.score > 0 THEN true ELSE e.id = 1 END "
        'THEN UPDATE SET v = concat(u.v, "e."), '
        "score = CASE WHEN u.score > 0 THEN u.score ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT (id, v, score) "
        "VALUES (u.id, CASE WHEN u.id > 2 THEN 'new' ELSE 'old' END, u.score)"
    )
    got = sorted((r.id, r.v, r.score) for r in read_table(spark, tbl).collect())
    assert got == [(1, "ze.", 0), (2, "ze.", 4), (3, "new", 7)]


def test_select_binds_relations_not_columns(spark, tmp_path):
    events, logs = str(tmp_path / "events"), str(tmp_path / "logs")
    create_table(spark.createDataFrame([(1,), (2,), (3,)], "id long"), events)
    append_table(spark.createDataFrame([(4,)], "id long"), events)
    create_table(
        spark.createDataFrame([(1, "x")], "id long, events string"), logs
    )
    sql = DeltaSql(spark, {"events": events, "logs": logs})
    # `events` is a registered table AND a column of logs
    assert sql.run("SELECT id, events FROM logs").collect() == [(1, "x")]
    got = sql.run(
        "SELECT events.id FROM events VERSION AS OF 0 WHERE events.id > 1"
    ).collect()
    assert sorted(r.id for r in got) == [2, 3]
    # a CTE named like a registered table shadows it
    assert sql.run(
        "WITH events AS (SELECT 42 AS id) SELECT * FROM events"
    ).collect() == [(42,)]


def test_create_table_nested_types_and_quoted_defaults(spark, tmp_path):
    t = str(tmp_path / "t")
    sql = DeltaSql(spark, {"t": t})
    sql.run(
        "CREATE TABLE t (id BIGINT, m MAP<STRING, INT>, "
        "s STRUCT<inner_x: INT, y: STRING>, "
        "a STRING DEFAULT 'x,y', b STRING DEFAULT 'a(b')"
    )
    assert table_schema(spark, t).simpleString() == (
        "struct<id:bigint,m:map<string,int>,s:struct<inner_x:int,y:string>,"
        "a:string,b:string>"
    )
    sql.run("INSERT INTO t (id) VALUES (1)")
    assert [(r.id, r.a, r.b) for r in read_table(spark, t).collect()] == [
        (1, "x,y", "a(b")
    ]
