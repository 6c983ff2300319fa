"""``session.local_frame`` builds driver-side frames as local relations:
same schema and values as ``createDataFrame`` on a list, planned as a
``LocalTableScan`` (no Python worker), and it is the package's only way
to build one."""

from __future__ import annotations

import ast
import json
import os
from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from scala_data_pipeline_spark.operators.ranking import with_rank
from scala_data_pipeline_spark.plans import explain_str
from scala_data_pipeline_spark.session import local_frame

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scala_data_pipeline_spark",
)
DDL = "i int, n bigint, s string, d decimal(22,4), x double, v array<double>"
ROWS = [
    (1, 2**40, "a", Decimal("12.3456"), 0.1, [1.0, 2.5]),
    (None, None, None, None, None, None),
    (-7, -1, "", Decimal("-0.0001"), float("inf"), []),
]


def _jvm_schema(df) -> StructType:
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


def test_same_schema_and_values_as_create_dataframe(spark):
    nullable = StructType.fromDDL(DDL)
    strict = StructType(
        [StructField(f.name, f.dataType, nullable=f.name != "s") for f in nullable]
    )
    cases = [
        (DDL, ROWS),
        (nullable, ROWS),
        (strict, [r for r in ROWS if r[2] is not None]),
        (DDL, []),
    ]
    for schema, rows in cases:
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema
        assert _jvm_schema(got) == _jvm_schema(want)
        assert got.collect() == want.collect()


def test_plans_as_local_table_scan(spark):
    plan = explain_str(local_frame(spark, ROWS, DDL), mode="simple")
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_rank_offset_frame_is_local(spark):
    df = spark.range(40).select(
        (F.col("id") % 3).cast("string").alias("g"), F.col("id").alias("k")
    )
    ranked, _ = with_rank(df, ["g"], ["k"], num_partitions=4)
    plan = explain_str(ranked, mode="simple")
    assert "LocalTableScan [_opid" in plan


def test_package_builds_no_frame_from_a_list():
    """The one ``createDataFrame`` call in the package is the arrow one
    inside ``local_frame``."""
    calls = []
    for root, _, files in os.walk(PACKAGE):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as fh:
                tree = ast.parse(fh.read())
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    calls.append(
                        (os.path.relpath(path, PACKAGE), ast.unparse(node.args[0]))
                    )
    assert calls == [("session.py", "table")]
