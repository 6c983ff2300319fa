"""Test-data table access (parquet scans, S5 in SURVEY.md §2.1).

The reference reads from Cassandra / Elasticsearch / PostgreSQL / HDFS
(data_mart/data_mart.scala:52-88); the harness substitutes parquet scans
of the driver-generated star schema. Connector builders for the real
sources live in ``connectors.py`` (option-compatible, gated on the
connector jars being present).

Scans stay declarative (``spark.read.parquet``) so Catalyst pushes
filters and prunes columns into the parquet reader — at 100 TB the scan
is the dominant cost and pushdown/pruning is the difference between
reading 100 TB and reading 2 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from ..session import forget, memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The lazy reader frame of one table, memoized per session: the
    frame holds no rows, every action still scans the parquet files, but
    building it costs a footer read and several py4j round-trips."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    # Oracle determinism must not depend on the caller's session: DuckDB
    # timestamps are UTC-naive, so pin the session timezone here (the
    # reference pins it per-module, e.g. filter/filter.scala:19).
    # Runs on every call — including memo hits — so a caller that
    # re-pointed the session timezone between calls is always re-pinned.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return memo(spark, ("table", sf_dir, name), lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # The driver has generated events.ts in two physical shapes over
        # time, and both must normalize to a session-TZ TIMESTAMP (the
        # streaming layer needs a real event-time column for
        # withWatermark, and DuckDB reads the same file UTC-naive):
        #  - TIMESTAMP(NANOS): Spark rejects it ([PARQUET_TYPE_ILLEGAL]);
        #    read as nanos-long and truncate to microseconds (matches
        #    DuckDB's nanos→µs truncation).
        #  - naive timestamp[us] (current shape): Spark ≥3.4 infers
        #    TIMESTAMP_NTZ, which withWatermark rejects
        #    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Disable NTZ inference
        #    so the scan itself yields TIMESTAMP — the raw micros are
        #    taken as a UTC instant, value-identical to DuckDB under the
        #    UTC session pinned above, and `ts` predicates keep pushing
        #    into the parquet reader (a post-scan cast would block that).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Belt-and-braces if NTZ inference ever re-activates: with
            # the UTC session the NTZ→TIMESTAMP cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a temp view so the engine's second entry
    point — plain ``spark.sql`` — works against the same data. The
    reference has no SQL entry (SURVEY.md §3); this is part of the
    PySpark-native surface.

    Memoized per (session, sf_dir): every SQL-surface query calls this,
    and re-reading ten parquet footers per query added ~0.7 s of pure
    setup to each (measured at sf0.1). The views point at one sf dir at
    a time, so registering another dir forgets the previous one and a
    session alternating between dirs re-registers on every switch."""

    def register() -> None:
        forget(spark, "views")
        for name, df in load_tables(spark, sf_dir).items():
            df.createOrReplaceTempView(name)

    memo(spark, ("views", sf_dir), register)
