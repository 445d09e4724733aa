"""Partitioned versioned tables + metadata-only column mapping
(round 13 — r12 verdict #2/#3/#5).

Pins the verdict's Done-criteria:
- a partition-predicate read lists ONLY the matching partition's files
  (inputFiles), at zero manifest growth (the hive path IS the per-file
  partition metadata);
- every DML verb + OPTIMIZE respects partition boundaries (the hive
  layout survives each rewrite, pruning keeps working);
- the STREAMING source fills partition columns from the paths and
  prunes whole files via option("partitionFilter", ...);
- metadata RENAME/DROP/ADD COLUMN touch ZERO data files (file list
  byte-identical across the commit), old versions time-travel under
  their old names, re-added names never resurrect dropped bytes, and
  the SQL forms route through the metadata path.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.sources.versioned import (
    _read_manifest,
    _resolve_files,
    add_column,
    append_table,
    create_table,
    delete_from_table,
    drop_column,
    latest_version,
    merge_upsert_table,
    optimize_table,
    purge_deletion_vectors,
    read_table,
    rename_column,
    table_detail,
    update_table,
)
from wnv_etl_lab2_spark.sources.table_paths import partition_values


@pytest.fixture()
def registered(spark):
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        VersionedTableStreamSource,
    )

    spark.dataSource.register(VersionedTableStreamSource)
    return spark


def _mkdf(spark, n=30):
    return spark.createDataFrame(
        [(i, ["de", "fr", "es"][i % 3], float(i)) for i in range(n)],
        "id long, lang string, score double",
    )


def _drain(spark, tbl: str, ck: str, **opts) -> list:
    """Every row the versioned_table stream source yields, drained to
    completion with checkpoint dir ``ck``."""
    got = []
    reader = spark.readStream.format("versioned_table").option("path", tbl)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.foreachBatch(lambda df, _b: got.extend(df.collect()))
        .option("checkpointLocation", ck)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return got


def test_partition_pruned_read_lists_only_matching_files(spark, tmp_path):
    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark), tbl, partition_by=("lang",))
    m = _read_manifest(spark, tbl, 0)
    assert m["partition_by"] == ["lang"]
    full = read_table(spark, tbl)
    assert full.columns == ["id", "lang", "score"]  # declared order kept
    assert full.count() == 30
    pruned = read_table(spark, tbl, partition_filter={"lang": "de"})
    assert pruned.count() == 10
    files = pruned.inputFiles()
    assert files and all("lang=de" in f for f in files)
    assert len(files) < len(full.inputFiles())
    # filter on a non-partition column refuses loudly
    with pytest.raises(ValueError, match="non-partition"):
        read_table(spark, tbl, partition_filter={"id": 1})
    # and a partition filter on an unpartitioned table refuses too
    flat = str(tmp_path / "flat")
    create_table(_mkdf(spark, 3), flat)
    with pytest.raises(ValueError, match="not partitioned"):
        read_table(spark, flat, partition_filter={"lang": "de"})
    # no matching partition -> empty frame, declared schema
    empty = read_table(spark, tbl, partition_filter={"lang": "nope"})
    assert empty.count() == 0 and empty.columns == ["id", "lang", "score"]


def test_all_dml_verbs_respect_partition_boundaries(spark, tmp_path):
    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark), tbl, partition_by=("lang",))
    schema = "id long, lang string, score double"

    append_table(spark.createDataFrame([(100, "de", 1.0)], schema), tbl)
    assert read_table(spark, tbl, partition_filter={"lang": "de"}).count() == 11
    # an append missing the partition column refuses
    with pytest.raises(ValueError, match="partition columns"):
        append_table(spark.createDataFrame([(1, 2.0)], "id long, score double"), tbl)

    delete_from_table(spark, tbl, "id = 100")  # copy-on-write rewrite
    update_table(spark, tbl, {"score": "score + 0.5"}, "lang = 'fr'")
    merge_upsert_table(
        spark.createDataFrame([(0, "de", 99.0)], schema), tbl, key="id"
    )
    v = optimize_table(spark, tbl)
    files = _resolve_files(spark, tbl, v)
    # every file still lives under a hive dir; compaction emits one
    # file per partition value and never crosses boundaries
    assert all("lang=" in f for f in files)
    assert len(files) == 3
    got = read_table(spark, tbl)
    assert got.count() == 30
    assert got.where("id = 0").head().score == 99.0
    assert read_table(spark, tbl, partition_filter={"lang": "fr"}).where(
        F.col("score") % 1 == 0.5
    ).count() == 10
    # pruning still intact after the whole DML chain
    pf = read_table(spark, tbl, partition_filter={"lang": "es"}).inputFiles()
    assert pf and all("lang=es" in f for f in pf)

    # merge-on-read DELETE with a partition-column predicate + purge
    delete_from_table(spark, tbl, "lang = 'es' AND id < 9", mode="merge_on_read")
    assert read_table(spark, tbl).count() == 27  # ids 2,5,8 gone
    pv = purge_deletion_vectors(spark, tbl, max_deleted_fraction=0.05)
    assert pv is not None
    assert read_table(spark, tbl).count() == 27
    assert all("lang=" in f for f in _resolve_files(spark, tbl, pv))
    # time travel reads the original partitioned snapshot
    assert read_table(spark, tbl, 0).count() == 30


def test_streaming_source_fills_and_prunes_partitions(registered, tmp_path):
    spark = registered
    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark, 12), tbl, partition_by=("lang",))
    append_table(
        spark.createDataFrame(
            [(100, "de", 1.0), (101, "es", 2.0)],
            "id long, lang string, score double",
        ),
        tbl,
    )

    def drain(opts: dict, ck: str):
        rows = _drain(spark, tbl, str(tmp_path / ck), **opts)
        return sorted((r.id, r.lang, r.score) for r in rows)

    # partition columns fill from the hive paths (they are not in the
    # data files), typed per the declared schema
    rows = drain({}, "ck_all")
    assert len(rows) == 14
    assert (0, "de", 0.0) in rows and (100, "de", 1.0) in rows
    # whole-file pruning via partitionFilter
    only_de = drain({"partitionFilter": '{"lang": "de"}'}, "ck_de")
    assert only_de == [r for r in rows if r[1] == "de"]


def test_metadata_column_ddl_touches_zero_data_files(spark, tmp_path):
    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark), tbl)
    files_before = _resolve_files(spark, tbl, 0)

    v1 = rename_column(spark, tbl, "score", "weight")  # metadata default
    assert _resolve_files(spark, tbl, v1) == files_before  # ZERO files touched
    m = _read_manifest(spark, tbl, v1)
    assert m["op"] == "rename_column"
    assert m["column_map"] == {"weight": "score"}
    got = read_table(spark, tbl)
    assert got.columns == ["id", "lang", "weight"]
    assert got.where("weight = 5.0").count() == 1
    # old version time-travels under the OLD name
    assert read_table(spark, tbl, 0).columns == ["id", "lang", "score"]

    # appends after the rename store the stable physical name and read
    # back through the map
    append_table(
        spark.createDataFrame([(200, "zz", 7.5)], "id long, lang string, weight double"),
        tbl,
    )
    assert read_table(spark, tbl).where("id = 200").head().weight == 7.5

    # metadata DROP: zero files touched, tombstoned physical
    v3 = drop_column(spark, tbl, "weight")
    m3 = _read_manifest(spark, tbl, v3)
    assert m3["op"] == "drop_column"
    assert "score" in m3["dropped_physical"]
    assert read_table(spark, tbl).columns == ["id", "lang"]
    assert _resolve_files(spark, tbl, v3) == _resolve_files(spark, tbl, v3 - 1)

    # re-ADD the same logical name: reads NULL everywhere — the dropped
    # bytes never resurface (fresh physical name)
    v4 = add_column(spark, tbl, "weight", "double")
    got4 = read_table(spark, tbl)
    assert got4.columns == ["id", "lang", "weight"]
    assert got4.where("weight IS NOT NULL").count() == 0
    m4 = _read_manifest(spark, tbl, v4)
    # the re-added logical name must NOT map onto the tombstoned
    # physical ("score"); identity is fine — no file stores "weight"
    assert m4.get("column_map", {}).get("weight", "weight") != "score"
    assert "score" in m4["dropped_physical"]
    # re-adding the ORIGINAL logical name gets a fresh physical, never
    # the tombstone
    v4b = add_column(spark, tbl, "score", "double")
    m4b = _read_manifest(spark, tbl, v4b)
    assert m4b["column_map"]["score"] != "score"
    assert read_table(spark, tbl).where("score IS NOT NULL").count() == 0
    drop_column(spark, tbl, "score")
    # and new appends to the re-added column round-trip
    append_table(
        spark.createDataFrame([(300, "aa", 3.25)], "id long, lang string, weight double"),
        tbl,
    )
    assert read_table(spark, tbl).where("id = 300").head().weight == 3.25

    # guards
    with pytest.raises(ValueError, match="already exists"):
        add_column(spark, tbl, "lang", "string")
    with pytest.raises(ValueError, match="no such column"):
        rename_column(spark, tbl, "nope", "x")
    # the copy-on-write path still exists for physical cleanup
    v6 = rename_column(spark, tbl, "weight", "w2", mode="rewrite")
    assert _resolve_files(spark, tbl, v6) != _resolve_files(spark, tbl, v6 - 1)
    assert read_table(spark, tbl).columns == ["id", "lang", "w2"]


def test_partition_column_ddl_refused(spark, tmp_path):
    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark), tbl, partition_by=("lang",))
    with pytest.raises(ValueError, match="partition column"):
        rename_column(spark, tbl, "lang", "language")
    with pytest.raises(ValueError, match="partition column"):
        drop_column(spark, tbl, "lang")


def test_column_mapping_composes_with_dv_stats_and_cdf(spark, tmp_path):
    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.versioned import (
        collect_stats,
        read_table_pruned,
    )

    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark), tbl, stats_cols=["score"])
    rename_column(spark, tbl, "score", "weight")
    # stats keyed by the stable PHYSICAL name still prune through the
    # logical lookup
    pruned = read_table_pruned(spark, tbl, "weight", 0.0, 4.0)
    assert pruned.count() == 5
    assert pruned.columns == ["id", "lang", "weight"]
    # ANALYZE by logical name after the rename
    collect_stats(spark, tbl, ["weight"])
    assert read_table_pruned(spark, tbl, "weight", 10.0, 12.0).count() == 3

    # change data written AFTER the rename reads back under logical
    # names (change files store physical — round 13)
    v = delete_from_table(spark, tbl, "weight >= 28", change_data=True)
    ch = read_change_data(spark, tbl, v - 1, v)
    rows = {(r.id, r.weight, r._change_type) for r in ch.collect()}
    assert rows == {(28, 28.0, "delete"), (29, 29.0, "delete")}

    # MoR delete + DV read on a mapped table
    delete_from_table(spark, tbl, "weight = 0", mode="merge_on_read")
    assert read_table(spark, tbl).count() == 27
    assert read_table(spark, tbl).where("weight = 0").count() == 0


def test_sql_partitioned_ctas_and_add_column(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql

    src = str(tmp_path / "src")
    part = str(tmp_path / "part")
    create_table(_mkdf(spark), src)
    sql = DeltaSql(spark, {"src": src, "part": part})
    sql.run(
        "CREATE TABLE part PARTITIONED BY (lang) AS "
        "SELECT id, lang, score FROM src"
    )
    m = _read_manifest(spark, part, 0)
    assert m["partition_by"] == ["lang"]
    pf = read_table(spark, part, partition_filter={"lang": "fr"}).inputFiles()
    assert pf and all("lang=fr" in f for f in pf)

    # ALTER TABLE ADD COLUMN: metadata-only, null backfill
    files_before = _resolve_files(spark, part, 0)
    v = sql.run("ALTER TABLE part ADD COLUMN note string")
    assert _resolve_files(spark, part, v) == files_before
    got = sql.run("SELECT count(*) AS n FROM part WHERE note IS NULL").collect()
    assert got[0].n == 30
    # SQL RENAME/DROP route through the metadata path (zero data files)
    v2 = sql.run("ALTER TABLE part RENAME COLUMN note TO comment")
    assert _resolve_files(spark, part, v2) == files_before
    v3 = sql.run("ALTER TABLE part DROP COLUMN comment")
    assert _resolve_files(spark, part, v3) == files_before
    assert read_table(spark, part).columns == ["id", "lang", "score"]


def test_transactional_writes_respect_partitioning(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.transactions import TxnWrite, commit_transaction

    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark, 6), tbl, partition_by=("lang",))
    txn_log = str(tmp_path / "_txn")
    commit_transaction(
        spark,
        txn_log,
        [
            TxnWrite(
                table_path=tbl,
                df=spark.createDataFrame(
                    [(50, "de", 5.5)], "id long, lang string, score double"
                ),
                op="append",
            )
        ],
    )
    got = read_table(spark, tbl, partition_filter={"lang": "de"})
    assert got.count() == 3
    assert {r.id for r in got.collect()} == {0, 3, 50}
    assert all("lang=" in f for f in got.inputFiles())


def test_show_partitions(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import table_partitions

    tbl = str(tmp_path / "t")
    create_table(_mkdf(spark), tbl, partition_by=("lang",))
    optimize_table(spark, tbl)  # 1 file per partition value
    got = {(r.lang, r.n_files) for r in table_partitions(spark, tbl).collect()}
    assert got == {("de", 1), ("fr", 1), ("es", 1)}
    # SQL form
    sql = DeltaSql(spark, {"t": tbl})
    assert {(r.lang, r.n_files) for r in sql.run("SHOW PARTITIONS t").collect()} == got
    # old version still answers from ITS file list
    v0 = table_partitions(spark, tbl, 0)
    assert {r.lang for r in v0.collect()} == {"de", "fr", "es"}
    # unpartitioned refuses
    flat = str(tmp_path / "flat")
    create_table(_mkdf(spark, 3), flat)
    with pytest.raises(ValueError, match="not partitioned"):
        table_partitions(spark, flat)


def test_optimize_zorder_within_partitions(spark, tmp_path):
    """Round 13: OPTIMIZE ZORDER BY on a partitioned table sorts the
    curve WITHIN each partition — one file per partition value, never a
    file spanning partitions — and stats-pruned reads benefit."""
    from wnv_etl_lab2_spark.sources.versioned import collect_stats, read_table_pruned

    tbl = str(tmp_path / "t")
    create_table(
        spark.createDataFrame(
            [(i, ["de", "fr"][i % 2], float(i % 7), float(i % 11)) for i in range(200)],
            "id long, lang string, x double, y double",
        ).repartition(8),
        tbl,
        partition_by=("lang",),
    )
    v = optimize_table(spark, tbl, zorder_by=("x", "y"))
    files = _resolve_files(spark, tbl, v)
    assert len(files) == 2 and all("lang=" in f for f in files)
    collect_stats(spark, tbl, ["x"])
    got = read_table_pruned(spark, tbl, "x", 1.0, 2.0)
    # i % 7 in {1, 2}: residues 0..3 appear 29 times each for i < 200
    assert got.count() == 58
    assert got.where("x < 1.0 OR x > 2.0").count() == 0


def test_partition_scoped_optimize_touches_only_matching_partition(spark, tmp_path):
    """Round 13 — Delta's OPTIMIZE ... WHERE: compaction is a PARTIAL
    rewrite of the matching partition only; every other partition's
    files are carried byte-identical (same paths), content never
    changes, and a filter matching nothing commits nothing."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _read_manifest,
        _resolve_files,
        append_table,
        create_table,
        latest_version,
        optimize_table,
        read_table,
    )

    path = str(tmp_path / "pt")
    rows = lambda i: [(i * 10 + j, ["de", "fr"][j % 2]) for j in range(4)]  # noqa: E731
    create_table(
        spark.createDataFrame(rows(0), "id long, lang string"), path,
        partition_by=("lang",),
    )
    append_table(spark.createDataFrame(rows(1), "id long, lang string"), path)
    append_table(spark.createDataFrame(rows(2), "id long, lang string"), path)
    cur = latest_version(spark, path)
    before = _resolve_files(spark, path, cur)
    fr_before = sorted(f for f in before if "lang=fr" in f)
    de_before = sorted(f for f in before if "lang=de" in f)
    assert len(de_before) > 1  # something to compact
    content = {tuple(r) for r in read_table(spark, path).collect()}

    v = optimize_table(spark, path, partition_filter={"lang": "de"})
    assert v == cur + 1
    assert _read_manifest(spark, path, v)["op"] == "optimize"
    after = _resolve_files(spark, path, v)
    fr_after = sorted(f for f in after if "lang=fr" in f)
    de_after = sorted(f for f in after if "lang=de" in f)
    assert fr_after == fr_before  # untouched partition: same files
    assert len(de_after) == 1 and not set(de_after) & set(de_before)
    assert {tuple(r) for r in read_table(spark, path).collect()} == content

    # filter matching no partition value: no commit at all
    assert optimize_table(spark, path, partition_filter={"lang": "zz"}) is None
    assert latest_version(spark, path) == v


def test_partition_scoped_optimize_sql_and_guards(spark, tmp_path):
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.versioned import (
        append_table,
        create_table,
        optimize_table,
        read_table,
    )
    import pytest as _pytest

    path = str(tmp_path / "pt2")
    create_table(
        spark.createDataFrame([(1, "de"), (2, "fr")], "id long, lang string"),
        path, partition_by=("lang",),
    )
    append_table(
        spark.createDataFrame([(3, "de")], "id long, lang string"), path
    )
    sql = DeltaSql(spark, {"t": path})
    v = sql.run("OPTIMIZE t WHERE lang = 'de'")
    assert v == 2
    assert read_table(spark, path).count() == 3

    flat = str(tmp_path / "flat")
    create_table(spark.createDataFrame([(1,)], "id long"), flat)
    with _pytest.raises(ValueError, match="partitioned table"):
        optimize_table(spark, flat, partition_filter={"id": "1"})


# --- adversarial partition values: every reader and DML route decodes
#     the hive path the way Spark's own partition discovery does -------

_ADVERSARIAL = ["a+b", "e%f", "g/h", "x y", "q=r", "u:v", "k'l", "m#n", "c,d", "ü", None]
_ADV_SCHEMA = "id long, p string, s double"


def _adv_rows():
    """Two rows per partition value: ids i and i + 100."""
    return [
        (i + k, v, float(i + k)) for i, v in enumerate(_ADVERSARIAL) for k in (0, 100)
    ]


def _adv_table(spark, path):
    create_table(
        spark.createDataFrame(_adv_rows(), _ADV_SCHEMA), path, partition_by=("p",)
    )


def _rows(df):
    return sorted((r.id, r.p, r.s) for r in df.collect())


def _p_in(values) -> str:
    """A partition-only predicate matching exactly ``values``."""
    lits = [
        "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for v in values
        if v is not None
    ]
    cond = f"p IN ({', '.join(lits)})"
    return f"({cond} OR p IS NULL)" if None in values else cond


def _ids_in(values, offsets=(0, 100)) -> str:
    """A data-column predicate matching the rows of ``values``."""
    ids = [_ADVERSARIAL.index(v) + k for v in values for k in offsets]
    return f"id IN ({', '.join(map(str, ids))})"


def test_adversarial_partition_values_read_like_spark(spark, tmp_path):
    import posixpath

    tbl = str(tmp_path / "t")
    _adv_table(spark, tbl)
    files = _resolve_files(spark, tbl, 0)
    # Spark's own hive partition discovery over the same files
    base = posixpath.dirname(posixpath.dirname(files[0]))
    spark_rows = _rows(
        spark.read.schema(_ADV_SCHEMA).option("basePath", base).parquet(*files)
    )
    assert _rows(read_table(spark, tbl)) == spark_rows == sorted(
        _adv_rows(), key=lambda r: r[0]
    )
    from wnv_etl_lab2_spark.sources.versioned import table_partitions

    assert {r.p for r in table_partitions(spark, tbl).collect()} == set(_ADVERSARIAL)
    for v in _ADVERSARIAL:
        got = _rows(read_table(spark, tbl, partition_filter={"p": v}))
        assert got == [r for r in spark_rows if r[1] == v], v


def test_adversarial_partition_values_dml_routes_agree(spark, tmp_path):
    """One DELETE and one UPDATE through every DML route over the
    adversarial partition values — partition path, witness scan, full
    rewrite (predicates that touch every file), a transaction, and a
    merge-on-read DELETE whose partition-only predicate narrows its
    scan from the paths — after a merge-on-read delete, so deletion
    vectors ride each route.
    All routes give the same rows, the recorded row counts match the
    data, and each version's change rows are its row diff."""
    from collections import Counter

    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.transactions import (
        TxnWrite,
        commit_transaction,
    )

    t = {r: str(tmp_path / r) for r in ("part", "wit", "full", "txn", "mor")}
    for r in ("part", "wit", "txn", "mor"):
        _adv_table(spark, t[r])
    # one file per partition, each with a sentinel row (id >= 200) the
    # full-rewrite DELETE also removes, so its predicate touches every file
    sentinels = [(200 + i, v, 0.0) for i, v in enumerate(_ADVERSARIAL)]
    create_table(
        spark.createDataFrame(_adv_rows() + sentinels, _ADV_SCHEMA).repartition(1),
        t["full"],
        partition_by=("p",),
    )
    doomed, bumped = _ADVERSARIAL[::2], _ADVERSARIAL[1::4]
    m, files = _read_manifest(spark, t["part"], 0), _resolve_files(spark, t["part"], 0)
    # the partition-only predicates take the path-decided route, the
    # data-column ones the witness scan
    for vs in (doomed, bumped):
        got = V._partition_predicate_files(spark, files, m, _p_in(vs))
        assert got is not None and len(got) < len(files)
        assert V._partition_predicate_files(spark, files, m, _ids_in(vs)) is None
    mor = "id >= 100 AND id < 200 AND id % 3 = 0"  # one row of p[2], p[5], p[8]
    bump = {"s": "s + 1000"}
    for r in t:
        delete_from_table(spark, t[r], mor, change_data=True, mode="merge_on_read")
    delete_from_table(spark, t["part"], _p_in(doomed), change_data=True)
    delete_from_table(
        spark, t["mor"], _p_in(doomed), change_data=True, mode="merge_on_read"
    )
    delete_from_table(spark, t["wit"], _ids_in(doomed), change_data=True)
    delete_from_table(
        spark, t["full"], f"{_ids_in(doomed)} OR id >= 200", change_data=True
    )
    update_table(spark, t["part"], bump, _p_in(bumped), change_data=True)
    update_table(spark, t["wit"], bump, _ids_in(bumped), change_data=True)
    update_table(spark, t["mor"], bump, _ids_in(bumped), change_data=True)
    update_table(
        spark, t["full"], {"s": f"IF({_ids_in(bumped)}, s + 1000, s)"}, "true",
        change_data=True,
    )
    # transactional DML records no change files (TxnWrite carries none)
    for w in (
        TxnWrite(df=None, table_path=t["txn"], op="delete", condition=_p_in(doomed)),
        TxnWrite(
            df=None, table_path=t["txn"], op="update",
            set_exprs=bump, condition=_ids_in(bumped),
        ),
    ):
        commit_transaction(spark, str(tmp_path / "_txn"), [w])
    want = sorted(
        (i, p, s + 1000 if p in bumped else s)
        for i, p, s in _adv_rows()
        if p not in doomed and i not in (102, 105, 108)
    )
    for r, path in t.items():
        assert _rows(read_table(spark, path)) == want, r
        assert table_detail(spark, path).first().num_rows == len(want), r
        for v in (1, 2, 3):
            prev = Counter(_rows(read_table(spark, path, v - 1)))
            cur = Counter(_rows(read_table(spark, path, v)))
            assert _read_manifest(spark, path, v)["n_rows"] == sum(cur.values())
            carried = set(_resolve_files(spark, path, v - 1)) & set(
                _resolve_files(spark, path, v)
            )
            # the full route rewrites every file; the others carry some
            assert bool(carried) == (r != "full" or v == 1), (r, v)
            if r == "txn" and v > 1:
                continue
            out, into = Counter(), Counter()
            for c in read_change_data(spark, path, v - 1, v).collect():
                side = into if c._change_type in ("insert", "update_postimage") else out
                side[(c.id, c.p, c.s)] += 1
            # an UPDATE's unchanged matched rows emit equal pre/post images
            assert (out - into, into - out) == (prev - cur, cur - prev), (r, v)


def test_adversarial_partition_values_merge_surfaces_agree(spark, tmp_path):
    """One upsert through every MERGE surface — `merge_upsert_table`,
    `merge_into_table` with the same clauses, the SQL upsert statement
    and a transaction — over the adversarial partition values, after a
    merge-on-read delete so deletion vectors ride along. The upsert
    changes a value, moves a row between partitions (and into the NULL
    one), re-inserts a deleted id, inserts new ids and repeats one row
    unchanged. All surfaces give the same rows, the recorded row counts
    match the data, and each version's change rows are its row diff."""
    from collections import Counter

    import wnv_etl_lab2_spark.sources.versioned as V
    from wnv_etl_lab2_spark.operators.cdf import read_change_data
    from wnv_etl_lab2_spark.sources.delta_sql import DeltaSql
    from wnv_etl_lab2_spark.sources.transactions import (
        TxnWrite,
        commit_transaction,
    )

    ups = [
        (0, "a+b", 0.0),  # unchanged
        (1, "e%f", 501.0),
        (3, "m#n", 3.0),  # x y -> m#n
        (4, None, 4.0),  # q=r -> NULL partition
        (110, None, 7.0),
        (102, "g/h", 9.0),  # deleted by the merge-on-read delete
        (300, "k'l", 1.5),
        (301, None, 2.5),
    ]
    src = spark.createDataFrame(ups, _ADV_SCHEMA)
    src.createOrReplaceTempView("adv_ups")
    clauses = V._upsert_clauses("id")
    t = {r: str(tmp_path / r) for r in ("upsert", "into", "sql", "txn")}
    for r, path in t.items():
        _adv_table(spark, path)
        delete_from_table(
            spark, path, "id >= 100 AND id < 200 AND id % 3 = 0",
            change_data=True, mode="merge_on_read",
        )
    merge_upsert_table(src, t["upsert"], "id", change_data=True)
    V.merge_into_table(spark, t["into"], src, change_data=True, **clauses)
    DeltaSql(spark, {"t": t["sql"]}).run(
        "MERGE INTO t USING adv_ups ON t.id = adv_ups.id "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    )
    commit_transaction(spark, str(tmp_path / "_txn"), [
        TxnWrite(
            df=src, table_path=t["txn"], op="merge",
            merge_kwargs={**clauses, "change_data": True},
        )
    ])
    by_id = {i: (i, p, s) for i, p, s in _adv_rows() if i not in (102, 105, 108)}
    by_id.update({i: (i, p, s) for i, p, s in ups})
    want = sorted(by_id.values(), key=lambda r: r[0])
    for r, path in t.items():
        assert _rows(read_table(spark, path)) == want, r
        assert table_detail(spark, path).first().num_rows == len(want), r
        for v in (1, 2):
            prev = Counter(_rows(read_table(spark, path, v - 1)))
            cur = Counter(_rows(read_table(spark, path, v)))
            assert _read_manifest(spark, path, v)["n_rows"] == sum(cur.values())
            if r == "sql" and v == 2:
                continue  # the SQL statement writes no change files
            out, into = Counter(), Counter()
            for c in read_change_data(spark, path, v - 1, v).collect():
                side = into if c._change_type in ("insert", "update_postimage") else out
                side[(c.id, c.p, c.s)] += 1
            assert (out, into) == (prev - cur, cur - prev), (r, v)


def test_adversarial_partition_values_merge_on_read_then_purge(spark, tmp_path):
    tbl = str(tmp_path / "t")
    _adv_table(spark, tbl)
    delete_from_table(spark, tbl, "id < 100", mode="merge_on_read")
    kept = [r for r in _adv_rows() if r[0] >= 100]
    assert _rows(read_table(spark, tbl)) == sorted(kept)
    # a witness-route UPDATE of DV-bearing files rewrites them
    bumped = _ADVERSARIAL[1::2]
    update_table(spark, tbl, {"s": "-s"}, _ids_in(bumped, offsets=(100,)))
    kept = [(i, p, -s if p in bumped else s) for i, p, s in kept]
    assert _rows(read_table(spark, tbl)) == sorted(kept)
    # every file still carrying deleted rows is rewritten by the purge
    before = set(_resolve_files(spark, tbl, latest_version(spark, tbl)))
    v = purge_deletion_vectors(spark, tbl, max_deleted_fraction=0)
    assert v is not None
    m = _read_manifest(spark, tbl, v)
    assert not m.get("dv") and not m.get("dv_counts")
    rewritten = before - set(_resolve_files(spark, tbl, v))
    assert {partition_values(f, ["p"])["p"] for f in rewritten} == {
        p for p in _ADVERSARIAL if p not in bumped
    }
    assert _rows(read_table(spark, tbl)) == sorted(kept)


def test_adversarial_partition_values_stream(registered, tmp_path):
    spark = registered
    tbl = str(tmp_path / "t")
    _adv_table(spark, tbl)

    snap = _drain(spark, tbl, str(tmp_path / "ck_snap"))
    assert sorted((r.id, r.p, r.s) for r in snap) == sorted(_adv_rows())
    # the change feed of a merge-on-read delete opens the DV-named files
    delete_from_table(spark, tbl, "id < 100", mode="merge_on_read")
    feed = _drain(
        spark, tbl, str(tmp_path / "ck_cdf"), readChangeFeed="true", startingVersion="0"
    )
    assert sorted((r.id, r.p, r._change_type) for r in feed) == sorted(
        (i, p, "delete") for i, p, _s in _adv_rows() if i < 100
    )


def test_timestamp_partition_round_trips(registered, tmp_path):
    import datetime as dt

    spark = registered
    tbl = str(tmp_path / "t")
    stamps = [dt.datetime(2024, 1, 2), dt.datetime(2024, 3, 4, 5, 6, 7)]
    create_table(
        spark.createDataFrame(
            [(i, ts) for i, ts in enumerate(stamps)], "id long, ts timestamp"
        ),
        tbl,
        partition_by=("ts",),
    )
    got = sorted((r.id, r.ts) for r in read_table(spark, tbl).collect())
    assert got == list(enumerate(stamps))
    one = read_table(spark, tbl, partition_filter={"ts": stamps[1]}).collect()
    assert [(r.id, r.ts) for r in one] == [(1, stamps[1])]
    # the streaming source types the path value the same way
    got = _drain(spark, tbl, str(tmp_path / "ck"))
    assert sorted((r.id, r.ts) for r in got) == list(enumerate(stamps))


def test_table_under_uri_special_directory(spark, tmp_path):
    """A ``#`` or ``?`` in the table directory is part of the path, not
    a URI fragment or query: partition-scoped OPTIMIZE and a DV purge
    rewrite only their own partition and every other partition's files
    survive."""
    tbl = str(tmp_path / "a#b?c" / "t")
    create_table(_mkdf(spark), tbl, partition_by=("lang",))
    append_table(_mkdf(spark).withColumn("id", F.col("id") + 100), tbl)
    content = sorted(tuple(r) for r in read_table(spark, tbl).collect())
    assert len(content) == 60

    def by_lang(v):
        files = _resolve_files(spark, tbl, v)
        return {
            lang: sorted(f for f in files if f"/lang={lang}/" in f)
            for lang in ("de", "fr", "es")
        }

    before = by_lang(latest_version(spark, tbl))
    v = optimize_table(spark, tbl, partition_filter={"lang": "de"})
    after = by_lang(v)
    assert len(after["de"]) == 1 and not set(after["de"]) & set(before["de"])
    assert after["fr"] == before["fr"] and after["es"] == before["es"]
    assert sorted(tuple(r) for r in read_table(spark, tbl).collect()) == content

    delete_from_table(spark, tbl, "lang = 'fr' AND id < 10", mode="merge_on_read")
    content = [r for r in content if not (r[1] == "fr" and r[0] < 10)]
    assert sorted(tuple(r) for r in read_table(spark, tbl).collect()) == content
    v = purge_deletion_vectors(spark, tbl, max_deleted_fraction=0)
    assert v is not None and not _read_manifest(spark, tbl, v).get("dv")
    purged = by_lang(v)
    assert purged["de"] == after["de"] and purged["es"] == after["es"]
    assert set(after["fr"]) - set(purged["fr"])  # the DV-bearing files
    assert sorted(tuple(r) for r in read_table(spark, tbl).collect()) == content


def test_stream_timestamp_partition_value_ignores_host_zone(monkeypatch):
    """The streaming source reads a TIMESTAMP path value in the pinned
    UTC session zone, not the worker host's local zone."""
    import datetime as dt
    import time

    from pyspark.sql.types import TimestampNTZType, TimestampType

    from wnv_etl_lab2_spark.sources.versioned_stream import _py_convert_pv

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        got = _py_convert_pv("2024-01-02 03:04:05", TimestampType())
        utc = dt.datetime(2024, 1, 2, 3, 4, 5, tzinfo=dt.timezone.utc)
        assert TimestampType().toInternal(got) == TimestampType().toInternal(utc)
        ntz = _py_convert_pv("2024-01-02 03:04:05", TimestampNTZType())
        assert ntz == dt.datetime(2024, 1, 2, 3, 4, 5) and ntz.tzinfo is None
    finally:
        monkeypatch.undo()
        time.tzset()
