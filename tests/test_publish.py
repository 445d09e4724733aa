"""Every versioned-table verb publishes through `versioned._publish`, so
a commit that loses its version slot fails the same way on every verb:
one ``optimistic concurrency check failed`` ValueError, no temp file
left in the log, and a `with_retries` re-run of the same closure
commits on the new tip."""

from __future__ import annotations

import glob
import os

import pytest

import wnv_etl_lab2_spark.sources.versioned as V
from wnv_etl_lab2_spark.sources.versioned import (
    add_check_constraint,
    append_table,
    create_table,
    delete_from_table,
    latest_version,
    optimize_table,
    read_table,
    set_table_properties,
    table_constraints,
    table_properties,
    with_retries,
)

_SCHEMA = "id long, s string"

# verb under test -> (closure over (spark, path), check of its effect)
_VERBS = {
    "set_table_properties": (
        lambda spark, path: set_table_properties(spark, path, {"k": "v"}),
        lambda spark, path: table_properties(spark, path).get("k") == "v",
    ),
    "add_check_constraint": (
        lambda spark, path: add_check_constraint(spark, path, "pos", "id >= 0"),
        lambda spark, path: "pos" in table_constraints(spark, path),
    ),
    "merge_on_read_delete": (
        lambda spark, path: delete_from_table(
            spark, path, "id = 1", mode="merge_on_read"
        ),
        lambda spark, path: 1 not in _ids(spark, path),
    ),
    "touched_files_delete": (
        lambda spark, path: delete_from_table(spark, path, "id = 3"),
        lambda spark, path: 3 not in _ids(spark, path),
    ),
}


def _ids(spark, path) -> set[int]:
    return {r.id for r in read_table(spark, path).collect()}


@pytest.mark.parametrize("verb", sorted(_VERBS))
def test_lost_slot_raises_the_one_race_error(spark, tmp_path, monkeypatch, verb):
    """A concurrent append wins the slot inside the verb's commit; the
    verb refuses with the race error (not a raw JVM exception), and the
    retried closure lands on top of the winner."""
    path = str(tmp_path / "t")
    create_table(spark.createDataFrame([(1, "a"), (2, "b")], _SCHEMA), path)
    # three data files, so the touched-files DELETE rewrites one of them
    append_table(spark.createDataFrame([(3, "c")], _SCHEMA), path)
    append_table(spark.createDataFrame([(4, "d")], _SCHEMA), path)
    run, effect = _VERBS[verb]

    real_commit = V._commit
    fired = []

    def racing_commit(sp, tp, version, manifest):
        if tp == path and not fired:
            fired.append(version)
            monkeypatch.setattr(V, "_commit", real_commit)
            append_table(spark.createDataFrame([(100, "race")], _SCHEMA), path)
        return real_commit(sp, tp, version, manifest)

    monkeypatch.setattr(V, "_commit", racing_commit)
    with pytest.raises(ValueError, match="optimistic concurrency"):
        run(spark, path)
    assert fired == [3]
    assert latest_version(spark, path) == 3  # only the winner landed
    assert glob.glob(os.path.join(path, "_log", ".tmp-*")) == []

    assert with_retries(lambda: run(spark, path)) == 4
    assert effect(spark, path)
    assert 100 in _ids(spark, path)


def test_full_optimize_rebases_onto_a_racing_append(spark, tmp_path, monkeypatch):
    """A full OPTIMIZE commits through the same rewrite committer as a
    partition-scoped one, so it has the same conflict rule: losing its
    slot to a concurrent append re-commits on top of the winner, whose
    rows stay readable. A table with no data file has nothing to
    compact: no commit."""
    path = str(tmp_path / "t")

    def one_file(rows):
        return spark.createDataFrame(rows, _SCHEMA).coalesce(1)

    create_table(one_file([(1, "a"), (2, "b")]), path)
    append_table(one_file([(3, "c")]), path)
    append_table(one_file([(4, "d")]), path)
    assert len(V._resolve_files(spark, path, 2)) == 3

    real_commit = V._commit
    fired = []

    def racing_commit(sp, tp, version, manifest):
        if tp == path and not fired:
            fired.append(version)
            monkeypatch.setattr(V, "_commit", real_commit)
            append_table(one_file([(100, "race")]), path)
        return real_commit(sp, tp, version, manifest)

    monkeypatch.setattr(V, "_commit", racing_commit)
    assert optimize_table(spark, path) == 4
    assert fired == [3]
    m = V._read_manifest(spark, path, 4)
    assert (m["op"], m["n_rows"]) == ("optimize", 5)
    assert _ids(spark, path) == {1, 2, 3, 4, 100}
    # the three compacted files became one; the winner's file carries
    assert len(V._resolve_files(spark, path, 4)) == 2
    assert glob.glob(os.path.join(path, "_log", ".tmp-*")) == []

    empty = str(tmp_path / "empty")
    # an empty partitioned write has nowhere to place a file
    create_table(spark.createDataFrame([], _SCHEMA), empty, partition_by=("s",))
    assert V._resolve_files(spark, empty, 0) == []
    assert optimize_table(spark, empty) is None
    assert latest_version(spark, empty) == 0


def test_local_create_exclusive_has_one_winner_per_slot(tmp_path):
    """The commit primitive under a real race, no Spark involved: two
    threads released together by a barrier create the same fresh local
    ``_log/NNNNNNNN.json`` slot, 300 times. Exactly one wins each slot,
    the slot holds the winner's text, and no temp file is left."""
    import threading

    log = tmp_path / "_log"
    slots = 300
    barrier = threading.Barrier(2, timeout=60)
    won: dict[int, list[str]] = {v: [] for v in range(slots)}

    def racer(name: str) -> None:
        for v in range(slots):
            barrier.wait()
            try:
                V._create_exclusive(None, str(log / f"{v:08d}.json"), f"{name}-{v}")
            except FileExistsError:
                continue
            won[v].append(name)

    threads = [threading.Thread(target=racer, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(len(w) == 1 for w in won.values()), {
        v: w for v, w in won.items() if len(w) != 1
    }
    for v, (winner,) in won.items():
        assert (log / f"{v:08d}.json").read_text() == f"{winner}-{v}"
    assert sorted(os.listdir(log)) == [f"{v:08d}.json" for v in range(slots)]
