"""File sinks (SURVEY.md §2.1 S10-S11, §2.12 X2-X3).

The reference's sinks are mode-chosen parquet/JSON writes with
``partitionBy`` and hard-coded ``coalesce(1)`` (users_items.scala:
90-100, features.scala:111). Here file count and layout are explicit
parameters, plus the two layouts the reference never had that matter at
100 TB:

- ``write_partitioned`` — hive-style partition dirs for pruning;
- ``write_bucketed`` — ``bucketBy(n, key)`` table layout: two tables
  bucketed on the same key join WITHOUT a shuffle (Catalyst sees the
  matching output partitioning). This is the standing answer to "this
  uid-keyed join shuffles 100 TB every night" — shuffle once at write
  time, never again at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    files_per_partition: int | None = None,
) -> None:
    """S10/X3: hive-layout output; downstream filters on the partition
    columns prune whole directories.

    ``files_per_partition`` splits each partition VALUE across that
    many tasks via a deterministic row-hash salt (round-13 review: a
    plain ``repartition(n, *partition_cols)`` hashed every row of a
    value into ONE task — one giant file per hot directory and the
    whole write capped at n tasks regardless of cluster size)."""
    if files_per_partition:
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(files_per_partition),
        )
        df = (
            df.withColumn("_fpp_salt", salt)
            .repartition(
                *[F.col(c) for c in partition_cols], F.col("_fpp_salt")
            )
            .drop("_fpp_salt")
        )
    df.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: pre-shuffled layout for shuffle-free
    equi-joins/aggs on ``bucket_col``. Requires saveAsTable (bucket
    metadata lives in the catalog)."""
    writer = (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)
