"""Local replica of the driver's t2 correctness gate: run a registry
query in Spark and its oracle in DuckDB over the same parquet tables,
then compare row count + column names + values (column-name-sorted,
order-insensitive) — stricter than the driver (exact equality, with a
tiny float tolerance fallback reported loudly)."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from wnv_etl_lab2_spark.sources.catalog import TABLES


def table_source(path: str) -> str:
    """The DuckDB source of one table: a single parquet file, or a
    directory of part files read through a glob (the rule
    `perfbench/checks.table_source` applies to staged inputs)."""
    return f"read_parquet('{path}/*.parquet')" if os.path.isdir(path) else f"'{path}'"


def run_oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, t + ".parquet")
        if not os.path.exists(path):
            continue  # synthetic fixture dirs stage only the tables they use
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {table_source(path)}")
    return con.sql(sql).df()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.copy()
    df.columns = [str(c) for c in df.columns]
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[ns]")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("boolean")
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def _dtype_class(dtype) -> str:
    """Coarse dtype class for the cross-engine drift check: the
    external driver's value hash is representation-sensitive across
    CLASSES (the only red row it ever produced was DuckDB HUGEINT ->
    pandas float64 hashed against Spark int64: 0.0 != 0), while
    within-class width (int32 vs int64) and datetime-unit (ns vs us)
    differences are proven tolerated by three rounds of green rows."""
    if pd.api.types.is_bool_dtype(dtype):
        return "bool"
    if pd.api.types.is_integer_dtype(dtype):
        return "int"
    if pd.api.types.is_float_dtype(dtype):
        return "float"
    if pd.api.types.is_datetime64_any_dtype(dtype):
        return "datetime"
    return "object"


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame, name: str) -> None:
    # dtype-class drift check BEFORE normalize() coerces widths: an
    # int column on one engine vs float on the other passes a naive
    # value compare (0 == 0.0) but fails the driver's hash.
    for c in set(spark_df.columns) & set(oracle_df.columns):
        sc, oc = _dtype_class(spark_df[c].dtype), _dtype_class(oracle_df[c].dtype)
        if {sc, oc} == {"object", "datetime"}:
            # Spark DATE columns reach pandas as object(datetime.date)
            # while DuckDB DATE arrives as datetime64 — green driver
            # rows since r2 prove this pairing hashes equal.
            continue
        assert sc == oc, (
            f"{name}.{c}: dtype-class drift spark={spark_df[c].dtype}({sc}) "
            f"oracle={oracle_df[c].dtype}({oc}) — values may compare equal "
            f"locally but the driver's representation-sensitive hash will "
            f"mismatch; CAST the oracle (or Spark) side"
        )
    s, o = normalize(spark_df), normalize(oracle_df)
    assert list(s.columns) == list(o.columns), (
        f"{name}: column mismatch spark={list(s.columns)} oracle={list(o.columns)}"
    )
    assert len(s) == len(o), f"{name}: row count spark={len(s)} oracle={len(o)}"
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv):
            both_nan = sv.isna() & ov.isna()
            exact = (sv == ov) | both_nan
            if not exact.all():
                bad = ~exact
                diffs = (sv[bad] - ov[bad]).abs()
                assert diffs.max() < 1e-9 and not math.isnan(diffs.max()), (
                    f"{name}.{c}: float mismatch max_abs_diff={diffs.max()} "
                    f"rows={bad.sum()}\nspark={sv[bad].head()}\noracle={ov[bad].head()}"
                )
                print(f"WARNING {name}.{c}: {bad.sum()} rows differ by <1e-9 (driver hash may flag)")
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            assert eq.all(), (
                f"{name}.{c}: value mismatch in {(~eq).sum()} rows\n"
                f"spark:\n{s[~eq].head()}\noracle:\n{o[~eq].head()}"
            )
