"""Output checks, run untimed once per benchmark run.

- ``curation_x4``: each registry query's DuckDB oracle twin runs over
  the same staged inputs (a part-file directory is read through a glob)
  and is compared the way ``tests/oracle_harness.py`` compares.
- ``lakehouse_dml``: a DuckDB replay of the same operation sequence,
  compared at every verified read.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_harness():
    """tests/ is not a package, so its comparison helper loads by path."""
    spec = importlib.util.spec_from_file_location(
        "oracle_harness", os.path.join(ROOT, "tests", "oracle_harness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_harness = _load_harness()
compare = _harness.compare


def table_source(path: str) -> str:
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"


def oracle_frame(sql: str, sf_dir: str, tables):
    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, t + ".parquet")
            if os.path.exists(path):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM {table_source(path)}")
        return con.sql(sql).df()
    finally:
        con.close()


class DmlReplay:
    """The expected table, version by version, from replaying each
    committed operation in DuckDB."""

    COLUMNS = "doc_id, text, lang, source, n_chars"

    def __init__(self, base_documents: str):
        self.con = duckdb.connect()
        self.con.sql(f"CREATE TABLE cur AS SELECT {self.COLUMNS} FROM '{base_documents}'")

    def _count(self, where: str) -> int:
        return self.con.sql(f"SELECT count(*) FROM cur WHERE {where}").fetchone()[0]

    def apply(self, verb: str, args: dict) -> int:
        """Replay one committed op; returns the number of rows it changed."""
        con = self.con
        if verb in ("append_table", "merge_upsert_table"):
            src = f"'{args['batch']}'"
            if verb == "merge_upsert_table":
                con.sql(f"DELETE FROM cur WHERE doc_id IN (SELECT doc_id FROM {src})")
            con.sql(f"INSERT INTO cur SELECT {self.COLUMNS} FROM {src}")
            return con.sql(f"SELECT count(*) FROM {src}").fetchone()[0]
        if verb == "delete_from_table":
            n = self._count(args["condition"])
            con.sql(f"DELETE FROM cur WHERE {args['condition']}")
            return n
        if verb == "update_table":
            n = self._count(args["condition"])
            sets = ", ".join(f"{c} = {e}" for c, e in args["set"].items())
            con.sql(f"UPDATE cur SET {sets} WHERE {args['condition']}")
            return n
        if verb in ("optimize_table", "vacuum_table"):
            return 0
        raise ValueError(f"no replay for {verb}")

    def snapshot(self, version: int) -> None:
        self.con.sql(f"CREATE OR REPLACE TABLE v{version} AS SELECT * FROM cur")

    def frame(self, version: int | None = None, lang: str | None = None):
        src = "cur" if version is None else f"v{version}"
        where = f" WHERE lang = '{lang}'" if lang is not None else ""
        return self.con.sql(f"SELECT {self.COLUMNS} FROM {src}{where}").df()

    def close(self) -> None:
        self.con.close()
