"""Cross-table transactions over versioned tables (round 10) — the
one capability the protocol declared as its omitted-vs-real-formats
gap through round 9 (`sources/versioned.py` module docstring). A
multi-table pipeline (corpus + index + materialized view) can now
commit N tables' next versions ALL-OR-NOTHING.

The protocol, composed from the primitives the single-table path
already trusts:

1. STAGE: each participating write runs the single-table verb's own
   stage part — `versioned._stage_append` for an append,
   `versioned._stage_rewrite` for an overwrite or a chain — which puts
   its data files under a unique attempt dir and builds its
   next-version manifest; the transaction only adds a ``txn`` stamp
   ``{"id": <uuid>, "log": <shared txn-log dir>}``. A transactional
   write is an ordinary write plus a commit stamp, as in Delta.
2. PUBLISH PENDING: each manifest is published through
   `versioned._publish` with no conflict rule, like any single-table
   commit; its exclusive create ATOMICALLY claims that table's next
   version slot (a concurrent independent writer or second transaction
   targeting the slot loses with the one optimistic-concurrency error —
   at most one transaction can ever be pending per table). Stamped
   manifests are INVISIBLE: every reader (`latest_version`,
   `read_table`, batch-id ledgers, the Python streaming source) skips
   a ``txn``-stamped manifest until the transaction commits.
3. COMMIT: one exclusive create (`versioned._create_exclusive`, the
   commit log's own primitive) of the single content-bearing marker
   ``{txn_log}/{id}.final`` containing the decided outcome
   ("committed") — the single atomic action after which every
   participating table's new version is visible. Crash anywhere
   before it → every table still reads at its prior version; the
   staged manifests/data are inert.
4. ABORT/RECOVERY: `abort_transaction` decides the SAME ``{id}.final``
   marker with content "aborted" (exclusive-create — commit and abort
   race on one file, so exactly one outcome ever wins) and deletes the
   transaction's pending manifests, freeing the version slots. It is
   idempotent and is the recovery path for a transaction that crashed
   between publish and commit; orphaned attempt dirs are
   reference-counted garbage for vacuum, exactly like any crashed
   single-table writer's.

What this costs readers: `latest_version` reads the tip manifest
(KB-sized, driver-side) instead of only listing filenames — the price
of visibility being a manifest property. While a transaction is
pending on a table, independent writers targeting its next slot fail
their exclusive create and retry/raise (`with_retries`); the pending
window spans only manifest publish + marker create (data staging
happens BEFORE any slot is claimed), so contention is bounded by two
small-file creates per table.

At 100 TB nothing here scales with data volume: staging is the normal
parquet write the tables would do anyway; the transaction adds one
KB-sized manifest create per table plus one marker create total.
"""

from __future__ import annotations

import posixpath
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from wnv_etl_lab2_spark.sources.table_manifest import manifest_file
from wnv_etl_lab2_spark.sources.versioned import (
    _create_exclusive,
    _fs,
    _list_versions,
    _publish,
    _qualify,
    _read_manifest,
    _stage_append,
    _stage_rewrite,
    _tip,
)


@dataclass(frozen=True)
class TxnWrite:
    """One table's write inside a transaction. ``op`` is "append" or
    "overwrite" — or, since round 16 (transactional DML), "delete" /
    "update" / "merge", carrying the statement's payload in the fields
    below. ``expect_latest`` makes a plain write a CAS on a version
    the caller pinned (read-modify-write arms, e.g. a matview state
    derived from a read — same contract as `overwrite_table`'s).

    DML writes route through the SAME single-table verbs
    (`delete_from_table` / `update_table` / `merge_into_table`) with
    the transaction stamp passed down: the verb stages its rewrite and
    publishes a PENDING (txn-stamped) manifest that no reader sees
    until the transaction's single outcome marker decides "committed"
    — so `DELETE FROM corpus` + `INSERT INTO audit` land atomically,
    or neither does. A DELETE or UPDATE takes the plain verb's
    route (`versioned._dml`): only the files holding matching rows are
    rewritten — all of them when every file matches — through the one
    rewrite committer (`versioned._commit_partial_rewrite`), and every
    other file carries by reference. A MERGE is `merge_into_table`'s clause
    matrix — an upsert is its clauses from `versioned._upsert_clauses`.
    A plain write ("append", "overwrite", "chain") stages through the
    single-table verb's stage part (`_stage`), so it casts, computes,
    checks and evolves exactly as `append_table` / `overwrite_table`
    do. For ``df``: plain writes carry the rows to write; "merge"
    carries the SOURCE frame; "delete"/"update" carry None."""

    df: DataFrame | None
    table_path: str
    op: str
    batch_id: int | None = None
    writer_id: str | None = None
    expect_latest: int | None = None
    condition: str | None = None  # delete / update WHERE
    set_exprs: dict | None = None  # update SET
    delete_mode: str = "copy_on_write"
    merge_kwargs: dict | None = None  # merge_into_table clause matrix
    # op="chain" (round 16): an ORDERED same-table statement sequence
    # — steps of {"op": "append"|"overwrite", "df": DataFrame} or
    # {"op": "delete", "condition": str} or {"op": "update",
    # "set_exprs": dict, "condition": str} or, since round 17,
    # {"op": "merge", "df": source, "merge_kwargs": clause matrix} —
    # composed as one logical plan over the committed snapshot (each
    # step sees the previous steps' effects) and committed as ONE
    # overwrite-shaped version. This is what makes `DELETE old
    # partition; INSERT new rows` — and `MERGE upserts; DELETE stale`
    # — on one table atomic inside a transaction, one scan + one
    # rewrite.
    chain: tuple = ()


_DML_OPS = frozenset({"delete", "update", "merge"})


def _compose_chain(
    spark: SparkSession, w: TxnWrite, prev0: dict, base_version: int
):
    """The chain's composed result frame over the committed snapshot —
    sequential statement semantics as ONE lazy plan (Catalyst fuses
    the filters/projections; the corpus is scanned once at stage
    time). Each step gets its single-statement verb's row semantics,
    so generated columns stay in the frame and the gen_ CHECK riding
    the one write validates them, as on every single-statement
    surface. An append or overwrite step's frame gets the append
    preparation (`versioned._prepare_append`: declared-type up-cast,
    a missing generated column computed, a supplied one kept for the
    CHECK). DELETE and UPDATE steps apply the verbs' own row transform
    (`versioned._dml_rows`: keep-predicate, SET validation, CASE-WHEN
    projection, generated recompute, nondeterminism refusal); MERGE
    steps (round 17) apply the shared clause matrix
    (`versioned._merge_result`) over the composed view, and its one
    cardinality identity is evaluated EAGERLY at stage time (one
    aggregate job over the step's join): a count riding the final
    write could silently never fire if a later step filtered or
    discarded the merged frame, and sequential-statement semantics
    demand the ambiguity raise regardless."""
    from wnv_etl_lab2_spark.sources.versioned import (
        _declared_types,
        _dml_rows,
        _merge_result,
        _prepare_append,
        read_table,
    )

    declared_types = _declared_types(prev0)
    # pin the base to the CAS'd version: a concurrent commit landing
    # between the version check and this read must lose at OUR publish
    # (slot taken), never silently become the chain's base
    view = read_table(spark, w.table_path, base_version)
    for step in w.chain:
        op = step["op"]
        if op in ("append", "overwrite"):
            rows = _prepare_append(step["df"], prev0, declared_types)
            view = (
                view.unionByName(rows, allowMissingColumns=True)
                if op == "append"
                else rows
            )
        elif op in ("delete", "update"):
            view = _dml_rows(
                view, prev0, op, step["condition"], step.get("set_exprs")
            )
        elif op == "merge":
            kw = dict(step.get("merge_kwargs") or {})
            if kw.pop("change_data", False):
                raise ValueError(
                    "change_data MERGE cannot compose into a same-table "
                    "chain — the chain commits one overwrite version "
                    "with no per-statement change files; run it as the "
                    "table's only statement or outside the transaction"
                )
            mr = _merge_result(
                spark, view, step["df"], kw.pop("on"),
                kw.pop("matched", None), kw.pop("not_matched", None),
                kw.pop("not_matched_by_source", None),
                gen_cols=prev0.get("generated") or {},
                ident_specs=prev0.get("identity") or {},
                dflt=prev0.get("defaults") or {},
                **kw,
            )
            mr["check_now"]()
            view = mr["result"]
        else:
            raise ValueError(f"unsupported chain step op: {op!r}")
    return view


def _run_dml(spark: SparkSession, w: TxnWrite, txn: dict) -> int:
    """Execute one DML write with the transaction stamp: the verb
    stages its data files AND publishes its pending manifest (claiming
    the table's version slot — Delta-style exclusive create), with
    visibility deferred to the shared outcome marker."""
    from wnv_etl_lab2_spark.sources.versioned import (
        delete_from_table,
        merge_into_table,
        update_table,
    )

    if w.op == "delete":
        return delete_from_table(
            spark, w.table_path, w.condition, mode=w.delete_mode, txn=txn
        )
    if w.op == "update":
        return update_table(
            spark, w.table_path, w.set_exprs, w.condition or "true", txn=txn
        )
    return merge_into_table(
        spark, w.table_path, w.df, txn=txn, **(w.merge_kwargs or {})
    )


def _marker(jvm, txn_log: str, txn_id: str):
    return jvm.org.apache.hadoop.fs.Path(posixpath.join(txn_log, f"{txn_id}.final"))


def resolve_outcome(
    spark: SparkSession, txn_log: str, txn_id: str, outcome: str
) -> str:
    """Decide a transaction's fate, EXACTLY ONCE: create
    ``{txn_id}.final`` containing "committed" or "aborted" with
    `versioned._create_exclusive`, the commit log's own primitive (the
    content is never observable half-written, and two racing deciders
    get exactly one winner). Returns the WINNING outcome, which may be
    the other decider's: a committer that loses to an abort sees
    "aborted" and must roll back; an aborter that loses to a commit
    sees "committed" and must leave the manifests alone. This single
    file is the entire commit/abort race — there is no two-marker
    interleaving where both sides win.

    A failed create is only "lost the race" if the winner's marker
    actually EXISTS; a transient I/O failure (no marker present)
    raises instead of reporting the caller's intended outcome as
    decided — otherwise `commit_transaction` would acknowledge a
    commit with no durable marker, leaving every participant
    invisible-pending forever (`versioned._publish` treats a failed
    manifest create the same way)."""
    fs, jvm = _fs(spark, txn_log)
    dst = _marker(jvm, txn_log, txn_id)
    if not fs.exists(dst):
        try:
            _create_exclusive(spark, dst.toString(), outcome)
        except Exception:
            if not fs.exists(dst):
                # transient create failure, NOT a lost race: the txn is
                # still undecided — raise so the caller retries or
                # aborts instead of treating its own intent as durable
                raise
            # else: lost the decide race — fall through to the winner
    decided = read_outcome(spark, txn_log, txn_id)
    if decided is None:
        raise IOError(
            f"transaction {txn_id}: outcome marker vanished after decide — "
            "undecided; retry resolve_outcome or abort"
        )
    return decided


def read_outcome(spark: SparkSession, txn_log: str, txn_id: str) -> str | None:
    """"committed" / "aborted" once decided, None while undecided."""
    fs, jvm = _fs(spark, txn_log)
    p = _marker(jvm, txn_log, txn_id)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        reader = spark._jvm.java.io.BufferedReader(
            spark._jvm.java.io.InputStreamReader(stream, "UTF-8")
        )
        return reader.readLine()
    finally:
        stream.close()


def _stage(spark: SparkSession, w: TxnWrite, txn_id: str, txn_log: str):
    """Stage ``w``'s data files and build its next-version manifest, not
    yet published: the single-table stage part (`versioned._stage_append`
    for an append, `versioned._stage_rewrite` for an overwrite or a
    chain) plus the ``txn`` stamp. Every reader — resolve walk, CDF,
    streaming source, schema evolution — then consumes a transactional
    version with no special case once it is visible."""
    cur, prev = _tip(spark, w.table_path)
    if w.expect_latest is not None and cur != w.expect_latest:
        raise ValueError(
            f"optimistic concurrency check failed for {w.table_path}: "
            f"expected latest={w.expect_latest}, found {cur} — re-read and retry"
        )
    if w.op not in ("append", "overwrite", "chain"):
        raise ValueError(
            f"transactional op must be append|overwrite|chain, got {w.op!r}"
        )
    if w.op == "append":
        version, manifest, _vdir = _stage_append(
            w.df, w.table_path, cur, prev, w.batch_id, w.writer_id
        )
    else:
        # a CHAIN commits as an overwrite (the composed result IS the
        # new snapshot — every consumer's rewrite semantics apply); its
        # frame carries surviving rows' identity values, so they are
        # kept and only inserted rows' nulls allocate. The step ops are
        # recorded for history forensics.
        chain = w.op == "chain"
        version, manifest = _stage_rewrite(
            _compose_chain(spark, w, prev, cur) if chain else w.df,
            w.table_path, cur + 1, "overwrite", prev,
            identity_fill_nulls=chain, batch_id=w.batch_id,
            writer_id=w.writer_id,
        )
        if chain:
            manifest["txn_ops"] = [step["op"] for step in w.chain]
    manifest["txn"] = {"id": txn_id, "log": txn_log}
    return version, manifest


def _delete_pending(spark: SparkSession, table_path: str, txn_id: str) -> None:
    """Remove this transaction's pending manifest from ``table_path``
    (tip-only by construction), freeing the version slot."""
    from wnv_etl_lab2_spark.sources.versioned import _txn_visible

    fs, jvm = _fs(spark, table_path)
    for v in reversed(_list_versions(spark, table_path)):
        m = _read_manifest(spark, table_path, v)
        txn = m.get("txn")
        if txn is not None and txn["id"] == txn_id:
            fs.delete(jvm.org.apache.hadoop.fs.Path(manifest_file(table_path, v)), False)
            continue
        if _txn_visible(spark, m):
            return  # below the pending tip: nothing of ours further down


def commit_transaction(
    spark: SparkSession,
    txn_log: str,
    writes: list[TxnWrite],
) -> dict[str, int]:
    """Atomically commit every write in ``writes`` (distinct tables):
    either ALL tables advance to their staged versions or none does.
    Returns {table_path: committed version}. On any failure — a lost
    version-slot race, a schema rejection, a commit/abort marker race
    — the transaction self-aborts (pending manifests deleted, aborted
    marker left as the tombstone) and re-raises; every table still
    reads at its prior version. Wrap in
    `sources/versioned.with_retries` to rebase-and-retry lost races."""
    if len({w.table_path for w in writes}) != len(writes):
        raise ValueError("one write per table per transaction")
    if not writes:
        raise ValueError("empty transaction")
    fs, jvm = _fs(spark, txn_log)
    txn_log = _qualify(fs, jvm, txn_log)
    txn_id = uuid.uuid4().hex
    txn = {"id": txn_id, "log": txn_log}
    # phase 1: stage plain writes' data + manifests BEFORE claiming any
    # slot, so the pending window (slots held, visibility unresolved)
    # stays as short as possible
    staged: list[tuple[TxnWrite, int, dict]] = []
    for w in writes:
        if w.op in _DML_OPS:
            continue
        version, manifest = _stage(spark, w, txn_id, txn_log)
        staged.append((w, version, manifest))
    versions: dict[str, int] = {}
    # phase 2: DML rewrites run their single-table verb with the txn
    # stamp — each stages its rewrite and publishes a PENDING manifest
    # (claiming that table's slot); then the plain writes' pending
    # manifests publish. From the first slot claim to the outcome
    # marker, every failure path aborts and frees every claimed slot.
    try:
        for w in writes:
            if w.op in _DML_OPS:
                versions[w.table_path] = _run_dml(spark, w, txn)
        for w, version, manifest in staged:
            versions[w.table_path] = _publish(
                spark, w.table_path, version, manifest
            )
    except Exception:
        # a slot claim (or a DML validation) failed: decide "aborted"
        # (nobody else can decide this txn_id — it never escaped this
        # process — but the single decide point keeps every path
        # uniform), then free every slot this txn claimed
        # (delete-by-txn-id is a no-op on tables whose publish never
        # happened); staged data dirs become vacuumable garbage
        resolve_outcome(spark, txn_log, txn_id, "aborted")
        for w in writes:
            _delete_pending(spark, w.table_path, txn_id)
        raise
    # phase 3: THE commit point — one atomic outcome decide
    outcome = resolve_outcome(spark, txn_log, txn_id, "committed")
    if outcome != "committed":
        for w in writes:
            _delete_pending(spark, w.table_path, txn_id)
        raise ValueError(f"transaction {txn_id} was aborted concurrently")
    return versions


def abort_transaction(
    spark: SparkSession,
    txn_log: str,
    txn_id: str,
    table_paths: list[str],
) -> None:
    """Recovery path for a transaction that crashed between publish
    and commit: write the aborted tombstone (exclusive — can never
    race a successful commit) and delete the pending manifests so the
    tables' version slots free up. Idempotent; raises if the
    transaction already committed."""
    fs, jvm = _fs(spark, txn_log)
    txn_log = _qualify(fs, jvm, txn_log)
    outcome = resolve_outcome(spark, txn_log, txn_id, "aborted")
    if outcome == "committed":
        raise ValueError(f"transaction {txn_id} already committed — cannot abort")
    for t in table_paths:
        _delete_pending(spark, t, txn_id)


def recover_pending(
    spark: SparkSession, table_paths: list[str]
) -> list[str]:
    """Crash recovery sweep (round 12): for each table whose TIP
    manifest is stamped by a transaction with NO decided outcome —
    a writer that died between publish and the final marker — decide
    "aborted" and free the slot; stamped tips whose outcome is already
    "aborted" (a crash after decide but before cleanup) get their
    pending manifests deleted. Committed stamps are left untouched.
    Idempotent, O(tables) manifest reads; returns the txn ids swept.
    A transactional streaming sink calls this at batch start so its
    own prior crash can never wedge the version slots it needs."""
    swept: list[str] = []
    for t in table_paths:
        versions = _list_versions(spark, t)
        if not versions:
            continue
        m = _read_manifest(spark, t, versions[-1])
        txn = m.get("txn")
        if txn is None:
            continue
        outcome = read_outcome(spark, txn["log"], txn["id"])
        if outcome == "committed":
            continue
        if outcome is None:
            resolve_outcome(spark, txn["log"], txn["id"], "aborted")
        _delete_pending(spark, t, txn["id"])
        swept.append(txn["id"])
    return swept
