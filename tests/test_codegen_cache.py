"""Warm queries compile no new code: ``get_session`` sizes Spark's
generated-class cache to the registry and keeps codegen stage ids out
of class names, so a second pass over the same queries finds every
class it needs in the cache.

The cache size is a static conf, fixed when a JVM starts its first
session, so the check runs in a subprocess with its own JVM."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# More distinct classes than Spark's default cache holds (100), and
# AQE plans whose independent stages finish in varying order.
NAMES = ("recipe_funnel_accounting", "sim_knn_recall_eval", "segment_spend_deciles")

PASSES = r"""
import json, sys
sys.path.insert(0, sys.argv[1])
from scala_data_pipeline_spark.queries import all_queries, extra_queries
from scala_data_pipeline_spark.session import get_session

spark = get_session("codegen-cache", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
registry = {**all_queries(), **extra_queries()}
counts = []
for _ in range(2):
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    for name in sys.argv[3:]:
        registry[name](spark, sys.argv[2]).collect()
    counts.append(metrics.METRIC_COMPILATION_TIME().getCount() - before)
spark.stop()
print(json.dumps(counts))
"""


def test_second_pass_compiles_nothing(sf_dir, tmp_path):
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("the query set is sized at the sf0.001 fixture")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "-c", PASSES, ROOT, sf_dir, *NAMES],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    first, second = json.loads(out.stdout.strip().splitlines()[-1])
    assert first > 100, (first, second)
    assert second == 0, (first, second)
