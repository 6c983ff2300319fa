"""The session memo must not keep a stopped session alive.

Runs in a subprocess with its own JVM, because it starts and stops
sessions, which the suite's shared session must not see."""

from __future__ import annotations

import os
import subprocess
import sys

from scala_data_pipeline_spark.sources.tables import register_views
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CYCLES = """
import gc, sys, weakref
sys.path.insert(0, {repo!r})
from scala_data_pipeline_spark.queries.ext_dedup import _pair_core
from scala_data_pipeline_spark.session import get_session
from scala_data_pipeline_spark.sources.tables import load_table, register_views

refs = []
for _ in range(3):
    spark = get_session("memo-cycles", shuffle_partitions=2)
    load_table(spark, {sf!r}, "documents")
    register_views(spark, {sf!r})
    _pair_core(spark, {sf!r})
    refs.append(weakref.ref(spark))
    spark.stop()
    del spark
# PySpark's RDD.toDF patch holds the most recently created session
# until the next one starts; start one so that only the memo could pin
# the stopped three.
get_session("memo-cycles", shuffle_partitions=2)
gc.collect()
print("reachable", sum(r() is not None for r in refs))
"""


def test_stopped_sessions_are_not_pinned(tmp_path):
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path),
    )
    out = subprocess.run(
        [sys.executable, "-c", CYCLES.format(repo=REPO, sf=SF_DIR)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split()[-2:] == ["reachable", "0"], out.stdout


def test_views_follow_every_switch_of_sf_dir(spark, sf_dir):
    """One session alternating between sf dirs re-points its views on
    each switch; the memo never serves views registered for another dir."""
    other = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    counts = []
    for d in (sf_dir, other, sf_dir, other, sf_dir):
        register_views(spark, d)
        counts.append(spark.sql("SELECT COUNT(*) FROM orders").first()[0])
    assert counts[0] == counts[2] == counts[4] != counts[1] == counts[3]
