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

Each reader is given its schema (``spark.read.schema(s).parquet``), so
building it starts no Spark job: Spark's own inference reads even one
footer inside a job. ``s`` is the schema that inference would give. It
is read on the driver from the one footer inference reads, and Spark's
``ParquetToSparkSchemaConverter`` converts it under the session's confs
(INT96, TIMESTAMP(NANOS) as long, NTZ inference, binary as string).
"""

from __future__ import annotations

import json

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType, TimestampNTZType

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
    path = f"{sf_dir}/{name}.parquet"
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
        # Both are set before footer_schema, whose converter reads them.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        schema = footer_schema(spark, path)
        df = spark.read.schema(schema).parquet(path)
        ts_type = schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Belt-and-braces if NTZ inference ever re-activates: with
            # the UTC session the NTZ→TIMESTAMP cast is value-preserving.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.schema(footer_schema(spark, path)).parquet(path)


_PARQUET = "org.apache.spark.sql.execution.datasources.parquet"


def footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer (without
    schema merging), read from one parquet footer on the driver. As with
    an inferred schema, a reader given it marks every field nullable.

    The footer is the one Spark's inference reads: the file itself, or
    for a directory its ``_common_metadata`` summary, else its
    ``_metadata`` summary, else its first data file in path order
    (names starting with ``_`` or ``.`` are not data). Partitioned
    layouts are not handled: no table read here is partitioned. A
    missing path raises Spark's own error."""
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    jpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = jpath.getFileSystem(conf)
    if not fs.exists(jpath):
        spark.read.parquet(path)  # raises [PATH_NOT_FOUND]
    status = fs.getFileStatus(jpath)
    if status.isDirectory():
        status = _schema_file(fs.listStatus(jpath), path)
    metadata = _jclass(spark, f"{_PARQUET}.ParquetFooterReader").readFooter(
        _jclass(spark, "org.apache.parquet.hadoop.util.HadoopInputFile").fromStatus(status, conf),
        _jclass(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter").SKIP_ROW_GROUPS,
    )
    schema = _jclass(spark, f"{_PARQUET}.ParquetFileFormat").readSchemaFromFooter(
        _jclass(spark, "org.apache.parquet.hadoop.Footer")(status.getPath(), metadata),
        _jclass(spark, f"{_PARQUET}.ParquetToSparkSchemaConverter")(state.conf()),
    )
    return StructType.fromJson(json.loads(schema.json()))


def _jclass(spark: SparkSession, name: str) -> JavaClass:
    """A JVM class by its full name. Resolving it through ``spark._jvm``
    costs one py4j round-trip per name segment; this costs none."""
    return JavaClass(name, spark._jvm._gateway_client)


def _schema_file(statuses, path: str):
    """The file status of a directory's listing that Spark's non-merging
    inference takes its schema from."""
    files = {s.getPath().getName(): s for s in statuses if s.isFile()}
    for summary in ("_common_metadata", "_metadata"):
        if summary in files:
            return files[summary]
    data = sorted(n for n in files if not n.startswith(("_", ".")))
    if not data:
        raise FileNotFoundError(f"no parquet data file in {path}")
    return files[data[0]]


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
