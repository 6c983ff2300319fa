"""Table readers get their schema from a parquet footer read on the
driver: building them starts no Spark job, and the schema equals what
``spark.read.parquet`` infers."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from scala_data_pipeline_spark.session import MISSES
from scala_data_pipeline_spark.sources.tables import (
    TABLE_NAMES,
    footer_schema,
    load_table,
    register_views,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jobs_in_group(spark, group: str) -> int:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def assert_parity(spark, path: str) -> None:
    """A reader given the footer schema has the schema of a reader that
    infers it, compared as JSON so nullability and metadata count."""
    given = spark.read.schema(footer_schema(spark, path)).parquet(path)
    assert given.schema.json() == spark.read.parquet(path).schema.json(), path


def test_table_loads_start_no_job(spark, sf_dir, tmp_path):
    """Reading all ten tables and registering their views runs no Spark
    job; the same group does see the job a schema-inferring read runs."""
    data = str(tmp_path / "sf")
    shutil.copytree(sf_dir, data)  # a dir this session has not loaded
    sc = spark.sparkContext
    group = f"table-loads-{id(tmp_path)}"
    built = MISSES["table"]
    sc.setJobGroup(group, "table loads")
    try:
        for name in TABLE_NAMES:
            load_table(spark, data, name)
        register_views(spark, data)
        assert MISSES["table"] - built == len(TABLE_NAMES)
        assert jobs_in_group(spark, group) == 0
        spark.read.parquet(f"{data}/orders.parquet")
        assert jobs_in_group(spark, group) >= 1
    finally:
        sc._jsc.clearJobGroup()
        register_views(spark, sf_dir)


def test_footer_schema_matches_inference_on_fixtures(spark, sf_dir):
    base = os.path.dirname(sf_dir.rstrip("/"))
    dirs = [os.path.join(base, sf) for sf in ("sf0.001", "sf0.01", "sf0.1")]
    dirs.append(os.path.join(ROOT, "perfbench", "data", "sf0.1"))
    for d in dirs:
        for name in TABLE_NAMES:
            assert_parity(spark, f"{d}/{name}.parquet")


def test_footer_schema_matches_inference_on_spark_written_dir(spark, tmp_path):
    path = str(tmp_path / "spark.parquet")
    spark.range(60).selectExpr(
        "id", "CAST(id AS STRING) AS s", "CAST(id AS DECIMAL(12, 2)) AS d",
        "TIMESTAMP'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "array(id, id + 1) AS xs", "named_struct('a', id, 'b', 'x') AS st",
    ).repartition(3).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names
    assert sum(n.startswith("part-") and n.endswith(".parquet") for n in names) == 3
    assert_parity(spark, path)


def test_footer_schema_takes_the_file_inference_takes(spark, tmp_path):
    """A directory holding two schema generations: the schema is the
    first data file's in path order, or a summary file's when one exists;
    either way it is the one Spark's inference picks."""
    old = pa.table({"id": pa.array([1, 2], pa.int64()), "s": ["a", "b"]})
    new = old.append_column("x", pa.array([0.5, 1.5], pa.float64()))
    widths = set()
    for first, second in ((old, new), (new, old)):
        d = tmp_path / f"gen-{first.num_columns}"
        d.mkdir()
        pq.write_table(first, d / "part-0.parquet")
        pq.write_table(second, d / "part-1.parquet")
        for hidden in ("_a.parquet", ".a.parquet"):  # sort first, not data
            (d / hidden).write_bytes(b"not parquet")
        assert_parity(spark, str(d))
        widths.add(len(footer_schema(spark, str(d))))
        for summary, table in (("_metadata", second), ("_common_metadata", first)):
            pq.write_metadata(table.schema, d / summary)
            assert_parity(spark, str(d))
            assert len(footer_schema(spark, str(d))) == table.num_columns
    assert widths == {2, 3}


def test_nanos_events_read_as_timestamp(spark, tmp_path):
    """A TIMESTAMP(NANOS) events file: the footer schema equals inference
    under the confs ``load_table`` sets for events, and the loaded ``ts``
    is a session-TZ TIMESTAMP truncated to microseconds."""
    from pyspark.sql.types import TimestampType

    ns = 1_700_000_000_123_456_789
    table = pa.table({
        "event_id": pa.array([1], pa.int64()),
        "ts": pa.array([ns], pa.timestamp("ns")),
    })
    pq.write_table(table, tmp_path / "events.parquet", version="2.6")
    unit = pq.ParquetFile(tmp_path / "events.parquet").schema.column(1).logical_type
    assert "timeUnit=nanoseconds" in str(unit)
    events = load_table(spark, str(tmp_path), "events")
    assert_parity(spark, str(tmp_path / "events.parquet"))
    assert isinstance(events.schema["ts"].dataType, TimestampType)
    assert events.selectExpr("unix_micros(ts)").first()[0] == ns // 1000


def test_missing_path_raises_sparks_error(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        footer_schema(spark, str(tmp_path / "absent.parquet"))
