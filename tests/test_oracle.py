"""The t2 gate, locally: every SQL-expressible registry query must
match its DuckDB oracle exactly (count + schema + values)."""

from __future__ import annotations

import pytest

from tests.oracle_harness import compare, run_oracle
from wnv_etl_lab2_spark import queries as q

SPECS = None


def _specs():
    global SPECS
    if SPECS is None:
        q._ensure_loaded()
        SPECS = dict(q.REGISTRY)
    return SPECS


def oracle_names():
    return [name for name, spec in _specs().items() if spec.oracle]


@pytest.mark.parametrize("name", oracle_names())
def test_query_matches_oracle(spark, sf_dir, name):
    spec = _specs()[name]
    spark_pdf = spec.fn(spark, sf_dir).toPandas()
    oracle_pdf = run_oracle(spec.oracle, sf_dir)
    assert len(spark_pdf) > 0, f"{name}: empty result — degenerate query"
    compare(spark_pdf, oracle_pdf, name)


def test_rows_only_queries_nonempty_and_deterministic(spark, sf_dir):
    for name, spec in _specs().items():
        if spec.oracle:
            continue
        a = spec.fn(spark, sf_dir).toPandas()
        b = spec.fn(spark, sf_dir).toPandas()
        assert len(a) > 0, f"{name}: empty result"
        assert list(a.columns) == list(b.columns), f"{name}: unstable schema"
        assert len(a) == len(b), f"{name}: nondeterministic row count"


def test_approx_distinct_within_hll_error_bound(spark, sf_dir):
    """approx_count_distinct ships exact counts side-by-side; pin the
    sketch's relative error well inside 3x the default rsd (5%) so a
    regression in column hashing or sketch config fails loudly."""
    out = _specs()["approx_distinct_stats"].fn(spark, sf_dir).toPandas()
    assert (out.exact_users > 0).all()
    rel = ((out.approx_users - out.exact_users).abs() / out.exact_users).max()
    assert rel <= 0.15, f"HLL relative error {rel:.3f} exceeds bound"


def test_approx_percentile_within_sketch_error(spark, sf_dir):
    """approx_percentile's p50/p95 must land within 5% relative (or
    tiny absolute) of the exact percentile carried beside it."""
    out = _specs()["approx_percentile_stats"].fn(spark, sf_dir).toPandas()
    for _, r in out.iterrows():
        for a, e in ((r.approx_p50, r.exact_p50), (r.approx_p95, r.exact_p95)):
            assert abs(a - e) <= max(0.05 * abs(e), 1e-6), (r.event_type, a, e)


def test_cms_estimates_within_bounds(spark, sf_dir):
    """Count-Min guarantees: estimate never undercounts, and
    overcounts by at most eps * total token mass (eps=0.001, so the
    bound is tight enough to bite at every SF)."""
    out = _specs()["heavy_hitters_cms"].fn(spark, sf_dir).toPandas()
    assert len(out) == 20
    assert (out.est_cnt >= out.exact_cnt).all()
    from wnv_etl_lab2_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, "documents", sf_dir)
    n_tokens = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .count()
    )
    assert (out.est_cnt - out.exact_cnt <= 0.001 * n_tokens + 1).all()


def test_oracle_reads_part_file_directories(sf_dir, tmp_path):
    """A table staged as a directory of part files gives the oracle the
    same frame as the single file it was split from."""
    import os

    import pyarrow.parquet as pq

    single, parts = tmp_path / "single", tmp_path / "parts"
    single.mkdir()
    parts.mkdir()
    for t in ("nation", "region"):
        src = os.path.join(sf_dir, t + ".parquet")
        os.symlink(src, single / f"{t}.parquet")
        table = pq.read_table(src)
        half = table.num_rows // 2
        (parts / f"{t}.parquet").mkdir()
        pq.write_table(table.slice(0, half), parts / f"{t}.parquet" / "part-0.parquet")
        pq.write_table(table.slice(half), parts / f"{t}.parquet" / "part-1.parquet")
    sql = (
        "SELECT r_name, count(*) AS n_nations, sum(n_nationkey) AS key_sum "
        "FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"
    )
    want = run_oracle(sql, str(single))
    assert len(want) > 0
    compare(run_oracle(sql, str(parts)), want, "part_file_views")
