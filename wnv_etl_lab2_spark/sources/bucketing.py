"""Bucketed managed tables: shuffle-free co-located joins.

At 100 TB the dominant cost of a fact-fact equi-join is shuffling both
sides. Bucketing pre-partitions (and pre-sorts) the stored table on
the join key, so a later join on that key needs NO exchange at all —
both sides are already co-located by bucket. This module is the write
path + the repartition-based in-flight equivalent; the plan-level
proof (no Exchange under the SortMergeJoin) is in
tests/test_bucketing.py.

The reference has no storage layout concept (files between stages,
SURVEY.md §3); this is pure scale extension.
"""

from __future__ import annotations

import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed Parquet table.

    Idempotent (the reference's overwrite model, O9): drops the
    catalog entry AND any orphaned location left by a dead session.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # managed-table locations are lowercased, and db-qualified names
    # live under <db>.db/<tbl> — mirror that or the orphan survives
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    parts = table.lower().split(".")
    rel = f"{parts[0]}.db/{parts[1]}" if len(parts) == 2 else parts[0]
    shutil.rmtree(f"{warehouse}/{rel}", ignore_errors=True)
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key)
    if sort:
        w = w.sortBy(key)
    w.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def upsert_bucketed_partition(
    df: DataFrame,
    table: str,
    path: str,
    partition_col: str,
    partition_value,
    bucket_keys: list[str],
    buckets: int = 8,
) -> None:
    """Idempotently (re)write partition ``partition_col =
    partition_value`` of a partitioned+bucketed EXTERNAL table with the
    rows of ``df`` (the table's data columns) — the accumulating-index
    write shape (e.g. the streaming near-dup band index: partitioned by
    micro-batch id, bucketed by the join keys so the per-batch state
    join never exchanges the index side, and a retried batch REPLACES
    its own partition instead of double-appending).

    First call creates the table at ``path`` (external — the files
    stay at the caller's location and remain readable as plain
    parquet); later calls run ``INSERT OVERWRITE ... PARTITION
    (partition_col = partition_value)``: a static partition spec
    replaces exactly that partition, and leaves the session's conf
    alone (``partitionOverwriteMode`` is a session-global setting, and
    ``insertInto`` ignores the per-write option)."""
    import os

    from pyspark.sql import functions as F

    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        ordered = df.withColumn(partition_col, F.lit(partition_value))
        if os.path.isdir(path) and any(
            d.startswith(f"{partition_col}=") for d in os.listdir(path)
        ):
            # A fresh session (e.g. restart-from-checkpoint) sees an
            # empty catalog but an index already on disk: RE-REGISTER
            # the existing files instead of saveAsTable(overwrite),
            # which would wipe the accumulated partitions.
            ddl = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in ordered.schema.fields
            )
            cluster = ", ".join(bucket_keys)
            spark.sql(
                f"CREATE TABLE {table} ({ddl}) USING PARQUET "
                f"PARTITIONED BY ({partition_col}) "
                f"CLUSTERED BY ({cluster}) SORTED BY ({cluster}) "
                f"INTO {buckets} BUCKETS LOCATION '{path}'"
            )
            spark.sql(f"MSCK REPAIR TABLE {table}")
        else:
            (
                ordered.write.mode("overwrite")
                .format("parquet")
                .option("path", path)
                .partitionBy(partition_col)
                .bucketBy(buckets, *bucket_keys)
                .sortBy(*bucket_keys)
                .saveAsTable(table)
            )
            return
    cols = ", ".join(f"`{c}`" for c in df.columns)
    spark.sql(
        f"INSERT OVERWRITE TABLE {table} PARTITION ({partition_col} = {{pv}}) "
        f"SELECT {cols} FROM {{src}}",
        pv=partition_value,
        src=df,
    )


def colocated_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two tables bucketed on the same key with the same bucket
    count: Catalyst sees the matching output partitioning and elides
    both exchanges (assert: no Exchange in the executed plan)."""
    return read_table(spark, left_table).join(read_table(spark, right_table), key, how)
