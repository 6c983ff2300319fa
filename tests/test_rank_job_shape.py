"""Job shape of the queries built on ``operators/ranking.py``: the Spark
jobs each one runs while it is built (the eager range checkpoint and
the bounded offset collect), and the jobs and stages its result runs.
The counts are pinned at the sf0.001 fixture, so a change to the
ranking scheme that adds or removes a job or a stage shows up here."""

from __future__ import annotations

import os

import pytest

from scala_data_pipeline_spark.queries import all_queries, extra_queries

# name -> (construction jobs, execution jobs, execution stages), sf0.001.
SHAPES = {
    "abc_parts": (6, 3, 3),
    "brand_abc_parts": (7, 3, 3),
    "curation_class_balance": (5, 3, 3),
    "curation_score_calibration": (9, 5, 5),
    "lorenz_customer_spend": (6, 5, 5),
    "segment_spend_deciles": (7, 5, 5),
    "skew_profile_orders": (6, 4, 4),
    "spend_percentile_customers": (6, 3, 3),
    "weighted_median_prices": (6, 4, 4),
    "winsorize_prices": (6, 6, 6),
}


def group_shape(spark, group: str) -> tuple[int, int]:
    """Jobs of one job group and the stages they completed; a stage
    whose shuffle output an earlier job left is skipped, not counted.
    The counts are read per job: once the status store holds
    ``spark.ui.retainedStages`` stages it drops skipped stages' own
    records first, even those of the newest jobs."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    return len(jobs), sum(store.job(j).numCompletedStages() for j in jobs)


@pytest.mark.parametrize("name", sorted(SHAPES))
def test_ranking_query_job_shape(spark, sf_dir, name):
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        pytest.skip("the shapes are pinned at the sf0.001 fixture")
    build = {**all_queries(), **extra_queries()}[name]
    sc = spark.sparkContext
    group = f"rank-shape-{name}-{id(build)}"
    try:
        sc.setJobGroup(f"{group}-build", name)
        df = build(spark, sf_dir)
        sc.setJobGroup(f"{group}-exec", name)
        df.collect()
    finally:
        sc._jsc.clearJobGroup()
    built, _ = group_shape(spark, f"{group}-build")
    ran, stages = group_shape(spark, f"{group}-exec")
    assert (built, ran, stages) == SHAPES[name]
