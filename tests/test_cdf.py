"""Change Data Feed over versioned tables: snapshot-diff semantics
(insert/delete/update pre+post images), schema-evolution alignment,
and the retract-apply consumption contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.operators.cdf import table_changes
from wnv_etl_lab2_spark.sources.versioned import (
    append_table,
    create_table,
    delete_from_table,
    merge_upsert_table,
    read_table,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    path = str(tmp_path / "tbl")
    create_table(
        spark.createDataFrame(
            [(i, f"v{i}", i * 10) for i in range(10)], "id long, name string, score long"
        ),
        path,
    )
    return path


def test_changes_classify_insert_delete_update(spark, tbl):
    # v1: update ids 0,1 + insert 100; v2: delete score >= 80 (ids 8, 9)
    merge_upsert_table(
        spark.createDataFrame(
            [(0, "V0", 55), (1, "V1", 55), (100, "new", 5)],
            "id long, name string, score long",
        ),
        tbl,
        "id",
    )
    delete_from_table(spark, tbl, "score >= 80")
    ch = table_changes(spark, tbl, "id", 0).collect()
    by_type = {}
    for r in ch:
        by_type.setdefault(r._change_type, set()).add(r.id)
    assert by_type["insert"] == {100}
    assert by_type["delete"] == {8, 9}
    assert by_type["update_preimage"] == {0, 1}
    assert by_type["update_postimage"] == {0, 1}
    pre = {r.id: r.score for r in ch if r._change_type == "update_preimage"}
    post = {r.id: r.score for r in ch if r._change_type == "update_postimage"}
    assert pre == {0: 0, 1: 10} and post == {0: 55, 1: 55}
    # unchanged keys never appear
    assert {r.id for r in ch} == {0, 1, 8, 9, 100}


def test_changes_between_adjacent_versions_compose(spark, tbl):
    merge_upsert_table(
        spark.createDataFrame([(3, "X", 1)], "id long, name string, score long"),
        tbl,
        "id",
    )
    # consuming v0->v1 changes by retract/apply reproduces v1 exactly
    ch = table_changes(spark, tbl, "id", 0, 1)
    base = {(r.id, r.name, r.score) for r in read_table(spark, tbl, 0).collect()}
    for r in ch.collect():
        t = (r.id, r.name, r.score)
        if r._change_type in ("delete", "update_preimage"):
            base.discard(t)
        elif r._change_type in ("insert", "update_postimage"):
            base.add(t)
    assert base == {(r.id, r.name, r.score) for r in read_table(spark, tbl, 1).collect()}


def test_changes_align_evolved_schema(spark, tbl):
    # additive evolution: the appended batch carries a new column
    append_table(
        spark.createDataFrame(
            [(200, "extra", 7, 0.5)], "id long, name string, score long, quality double"
        ),
        tbl,
    )
    ch = table_changes(spark, tbl, "id", 0).collect()
    assert {r._change_type for r in ch} == {"insert"}
    (ins,) = ch
    assert (ins.id, ins.quality) == (200, 0.5)
    # pre-evolution rows are identical once null-aligned: no phantom
    # updates from the schema change itself
    assert len(ch) == 1


def test_no_changes_is_empty(spark, tbl):
    assert table_changes(spark, tbl, "id", 0, 0).count() == 0


def test_table_appends_reads_only_new_files(spark, tmp_path):
    from wnv_etl_lab2_spark.operators.cdf import table_appends
    from wnv_etl_lab2_spark.sources.versioned import optimize_table

    path = str(tmp_path / "tbl")
    create_table(spark.createDataFrame([(0,)], "id long"), path)
    for i in range(1, 5):
        append_table(spark.createDataFrame([(i,)], "id long"), path)
    got = table_appends(spark, path, 1)  # appends after v1: ids 2, 3, 4
    assert {r.id for r in got.collect()} == {2, 3, 4}
    # scans exactly the three appended versions' files, never the base
    assert all("/data/v0-" not in f for f in got.inputFiles())
    assert len(got.inputFiles()) == sum(
        1 for f in got.inputFiles() if any(f"/data/v{v}-" in f for v in (2, 3, 4))
    )
    assert table_appends(spark, path, 4).count() == 0  # nothing new
    # a history rewrite in the range must refuse loudly
    optimize_table(spark, path, target_files=1)
    with pytest.raises(ValueError, match="not append-only"):
        table_appends(spark, path, 1)


def test_changes_reconstruct_every_version_pair_in_random_history(spark, tmp_path):
    """Property over a seeded random DML history: for every adjacent
    version pair AND the (0, latest) span, applying table_changes by
    retract/apply to the older snapshot reconstructs the newer one
    exactly — CDF is a lossless encoding of any snapshot delta."""
    import random

    from wnv_etl_lab2_spark.sources.versioned import (
        delete_from_table,
        latest_version,
        merge_upsert_table,
        overwrite_table,
    )

    rng = random.Random(7)
    path = str(tmp_path / "tbl")
    model = {i: i * 10 for i in range(6)}

    def df_of(m):
        return spark.createDataFrame(sorted(m.items()), "id long, v long")

    create_table(df_of(model), path)
    next_id = 100
    for _ in range(8):
        op = rng.choice(["append", "merge", "delete", "overwrite"])
        if op == "append":
            batch = {next_id: rng.randrange(1000)}
            next_id += 1
            append_table(df_of(batch), path)
            model.update(batch)
        elif op == "merge":
            keys = rng.sample(sorted(model), k=min(2, len(model))) + [next_id]
            next_id += 1
            batch = {k: rng.randrange(1000) for k in keys}
            merge_upsert_table(df_of(batch), path, "id")
            model.update(batch)
        elif op == "delete":
            cut = rng.randrange(1000)
            survivors = {k: v for k, v in model.items() if not v < cut}
            if not survivors:  # keep the table non-empty (no null-key rows)
                continue
            delete_from_table(spark, path, f"v < {cut}")
            model = survivors
        else:
            model = {next_id + j: rng.randrange(1000) for j in range(2)}
            next_id += 2
            overwrite_table(df_of(model), path)

    vmax = latest_version(spark, path)

    def content(v):
        return {(r.id, r.v) for r in read_table(spark, path, v).collect()}

    pairs = [(v, v + 1) for v in range(vmax)] + [(0, vmax)]
    for x, y in pairs:
        base = content(x)
        for r in table_changes(spark, path, "id", x, y).collect():
            t = (r.id, r.v)
            if r._change_type in ("delete", "update_preimage"):
                base.discard(t)
            else:
                base.add(t)
        assert base == content(y), (x, y)


def test_table_appends_handles_pre_r9_full_list_manifests(spark, tmp_path):
    """Round-10 advisory fix: pre-round-9 append manifests carry the
    full snapshot "files" list (no log-structured "add"); an upgraded
    table's old history must stay consumable — adds recovered as the
    diff against the parent snapshot."""
    import json
    import os

    from wnv_etl_lab2_spark.operators.cdf import table_appends
    from wnv_etl_lab2_spark.sources.versioned import (
        _resolve_files,
        append_table,
        create_table,
    )

    tbl = str(tmp_path / "legacy")
    create_table(spark.createDataFrame([(1,), (2,)], "id long"), tbl)
    append_table(spark.createDataFrame([(3,)], "id long"), tbl)  # v1
    append_table(spark.createDataFrame([(4,), (5,)], "id long"), tbl)  # v2
    # rewrite v1 and v2 manifests to the legacy full-list shape
    for v in (1, 2):
        p = os.path.join(tbl, "_log", f"{v:08d}.json")
        with open(p) as f:
            m = json.load(f)
        m["files"] = _resolve_files(spark, tbl, v)
        del m["add"]
        del m["parent"]
        with open(p, "w") as f:
            json.dump(m, f)
        # the raw rewrite invalidates Hadoop's local-FS checksum sidecar
        crc = os.path.join(tbl, "_log", f".{v:08d}.json.crc")
        if os.path.exists(crc):
            os.remove(crc)
    got = {r.id for r in table_appends(spark, tbl, 0, 2).collect()}
    assert got == {3, 4, 5}
    got_v1 = {r.id for r in table_appends(spark, tbl, 0, 1).collect()}
    assert got_v1 == {3}


def test_append_commit_survives_checkpoint_failure(spark, tmp_path, monkeypatch):
    """Round-10 advisory fix: the post-commit auto-checkpoint is
    best-effort — a checkpoint hiccup must not make the committed
    append look failed (a naive caller retry would double-write)."""
    import wnv_etl_lab2_spark.sources.versioned as vsn

    tbl = str(tmp_path / "ckptfail")
    create_table = vsn.create_table
    create_table(spark.createDataFrame([(0,)], "id long"), tbl)

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(vsn, "_write_checkpoint", boom)
    import warnings

    for i in range(1, vsn.CHECKPOINT_EVERY + 1):  # reach the ckpt cadence
        if i == vsn.CHECKPOINT_EVERY:
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                v = vsn.append_table(spark.createDataFrame([(i,)], "id long"), tbl)
            assert any("checkpoint" in str(x.message) for x in w)
        else:
            v = vsn.append_table(spark.createDataFrame([(i,)], "id long"), tbl)
    assert v == vsn.CHECKPOINT_EVERY
    assert {r.id for r in vsn.read_table(spark, tbl).collect()} == set(
        range(vsn.CHECKPOINT_EVERY + 1)
    )


def test_upsert_change_data_skips_unchanged_rows(spark, tbl):
    """An upsert writes the MERGE change vocabulary: a matched row whose
    values do not change emits no update_preimage/update_postimage
    pair."""
    from wnv_etl_lab2_spark.operators.cdf import read_change_data

    merge_upsert_table(
        spark.createDataFrame(
            [(0, "v0", 0), (1, "V1", 10), (100, "new", 5)],
            "id long, name string, score long",
        ),
        tbl,
        "id",
        change_data=True,
    )
    ch = sorted(
        (r._change_type, r.id, r.name)
        for r in read_change_data(spark, tbl, 0).collect()
    )
    assert ch == [
        ("insert", 100, "new"),
        ("update_postimage", 1, "V1"),
        ("update_preimage", 1, "v1"),
    ]
