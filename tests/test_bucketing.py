"""Bucketed-table joins must elide the shuffle (the 100 TB co-located
join contract) and return exactly the same rows as the plain join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wnv_etl_lab2_spark.sources.bucketing import colocated_join, write_bucketed
from wnv_etl_lab2_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir).withColumnRenamed("o_custkey", "custkey")
    cust = load_table(spark, "customer", sf_dir).withColumnRenamed("c_custkey", "custkey")
    write_bucketed(orders, "b_orders", "custkey", buckets=8)
    write_bucketed(cust, "b_customer", "custkey", buckets=8)
    yield "b_orders", "b_customer"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_colocated_join_has_no_shuffle_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # disable broadcast so the planner must pick a sort-merge join —
    # at 100 TB neither fact side broadcasts, which is the case
    # bucketing exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = colocated_join(spark, lt, rt, "custkey")
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan, (
        f"bucketed join still shuffles:\n{plan[:1500]}"
    )
    assert "Bucketed: true" in plan


def test_colocated_join_matches_plain_join(spark, sf_dir, bucketed_tables):
    lt, rt = bucketed_tables
    bucketed_n = (
        colocated_join(spark, lt, rt, "custkey")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
        .collect()
    )
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    plain_n = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
        .collect()
    )
    assert bucketed_n == plain_n


def test_bucketed_groupby_needs_no_exchange(spark, bucketed_tables):
    lt, _ = bucketed_tables
    df = spark.table(lt).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # aggregation reuses the bucket layout


def test_upsert_bucketed_partition_leaves_session_conf_alone(
    spark, tmp_path, monkeypatch
):
    """Replacing one partition of a bucketed index never sets the
    session-global ``partitionOverwriteMode``, and keeps every other
    partition."""
    from pyspark.sql.conf import RuntimeConfig

    from wnv_etl_lab2_spark.sources.bucketing import upsert_bucketed_partition

    table, path = "b_upsert_conf", str(tmp_path / "idx")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    keys = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        keys.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    try:
        for batch, ids in ((1, (1, 2)), (2, (3,)), (1, (4,))):
            upsert_bucketed_partition(
                spark.createDataFrame(
                    [(i, f"s{i}") for i in ids], "band_id long, band_sig string"
                ),
                table=table,
                path=path,
                partition_col="batch_id",
                partition_value=batch,
                bucket_keys=["band_id", "band_sig"],
            )
        got = sorted((r.batch_id, r.band_id) for r in spark.table(table).collect())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    assert [k for k in keys if "partitionOverwriteMode" in k] == []
    assert got == [(1, 4), (2, 3)]  # batch 1 replaced, batch 2 kept
