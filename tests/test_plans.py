"""Plan-shape locks (the 100 TB posture, SURVEY.md §4): headline queries
must keep their scan pruning, pushdown, broadcast choices, and shuffle
budgets. A change that adds a shuffle or demotes a broadcast join fails
here instead of on the cluster."""

from __future__ import annotations

import pytest

from scala_data_pipeline_spark.plans import plan_audit
from scala_data_pipeline_spark.queries import all_queries, extra_queries

QUERIES = {**all_queries(), **extra_queries()}


@pytest.fixture(scope="module")
def audits(spark, sf_dir):
    return {
        name: plan_audit(QUERIES[name](spark, sf_dir))
        for name in (
            "pricing_summary",
            "join_dims",
            "flagship_datamart",
            "pivot_user_events",
            "filter_project",
            "topk_parts",
            "windowed_revenue",
        )
    }


def test_aggregates_are_partial(audits):
    """Every groupBy runs map-side combine (partial→final)."""
    for name in ("pricing_summary", "pivot_user_events", "windowed_revenue"):
        assert audits[name]["has_partial_agg"], name


def test_codegen_counted_on_the_final_plan(audits):
    """AQE inserts WholeStageCodegen only as it plans each stage, so the
    plan before execution of a shuffling query has no codegen span; the
    audit counts the final plan."""
    a = audits["pricing_summary"]
    assert a["n_shuffle_exchanges"] >= 1
    assert "isFinalPlan=false" in a["plan"]
    assert a["codegen_stages"] >= 2


def test_single_shuffle_for_simple_aggs(audits):
    """One groupBy = exactly one exchange."""
    assert audits["pricing_summary"]["n_shuffle_exchanges"] == 1
    assert audits["pivot_user_events"]["n_shuffle_exchanges"] == 1


def test_dim_joins_broadcast(audits):
    """nation/region joins must be broadcast-hash, not sort-merge."""
    a = audits["join_dims"]
    assert a["n_broadcast_joins"] >= 2
    assert a["n_sortmerge_joins"] == 0


def test_column_pruning_reaches_scan(audits):
    """filter_project reads 4 of events' 6 columns; pricing reads 7 of
    lineitem's 11."""
    assert all(
        "props" not in s for s in audits["filter_project"]["scan_schemas"]
    )
    assert all(
        "l_comment" not in s and "l_orderkey" not in s
        for s in audits["pricing_summary"]["scan_schemas"]
    )


def test_filter_pushdown_reaches_scan(audits):
    assert audits["pricing_summary"]["has_pushed_filters"]
    assert audits["filter_project"]["has_pushed_filters"]


def test_no_python_in_hot_paths(audits):
    """Core relational/agg/streaming queries must stay JVM-side."""
    for name, a in audits.items():
        assert a["n_python_udfs"] == 0, f"{name} has Python in the plan"


def test_topk_no_global_sort(audits):
    """orderBy+limit must plan as TakeOrderedAndProject, not a global
    sort (rangepartitioning exchange)."""
    assert "TakeOrderedAndProject" in audits["topk_parts"]["plan"]


def test_incremental_merge_stays_wide(spark, sf_dir):
    """merge_matrix merges wide (union + column sums): no Expand node
    (the old long-form path unpivoted 200 columns into per-cell rows)
    and exactly 2 shuffles — one per side's pivot; the merge agg runs
    bucket-aligned on the union of the two co-partitioned shuffles
    without an exchange of its own. The shared (user_id, item, ts)
    projection is localCheckpoint'd before the split (dea0e7e: the old
    never-unpersisted persist pinned a copy of the long frame per
    invocation), so the audited plan reads a checkpointed RDD — the
    events parquet scan and its fan_out exchange happen exactly once,
    at checkpoint materialization, BEFORE this plan."""
    a = plan_audit(QUERIES["users_items_incremental"](spark, sf_dir))
    assert "Expand" not in a["plan"]
    assert a["n_shuffle_exchanges"] == 2
    assert a["has_partial_agg"]
    # Both pivot branches read the checkpointed RDD: zero parquet scans
    # in the audited plan (the single events scan pre-materialized).
    assert a["scan_schemas"] == [], a["scan_schemas"]
    assert "ExistingRDD" in a["plan"]


def test_lsh_signature_pipeline_runs_once(spark, sf_dir):
    """The star/clique cap must not fork the plan: documents is scanned
    exactly once (a union of filtered branches would scan + re-hash the
    whole signature pipeline per branch). Locks the OPERATOR, not the
    registry wrapper — the wrapper returns the memoized checkpointed
    frame (queries/ext_dedup.py::_lsh_pairs), whose plan is an RDD scan
    by design."""
    from scala_data_pipeline_spark.ext.dedup import lsh_candidate_pairs
    from scala_data_pipeline_spark.sources import load_table

    a = plan_audit(lsh_candidate_pairs(load_table(spark, sf_dir, "documents")))
    assert len(a["scan_schemas"]) == 1, a["scan_schemas"]


def test_round6_plan_shapes(spark, sf_dir):
    """Plan locks for the r6 flagships: the quality-rule bundle is a
    pure codegen scan (0 shuffles); the rollup is exactly 2 exchanges
    (hour partial + day merge) with map-side combine; the source-
    reputation join broadcasts its reputation side."""
    gopher = plan_audit(QUERIES["text_gopher_rules"](spark, sf_dir))
    assert gopher["n_shuffle_exchanges"] == 0
    assert gopher["n_python_udfs"] == 0

    rollup = plan_audit(QUERIES["rollup_daily_revenue"](spark, sf_dir))
    assert rollup["n_shuffle_exchanges"] == 2
    assert rollup["has_partial_agg"]
    assert rollup["n_python_udfs"] == 0

    rep = plan_audit(QUERIES["curation_source_reputation"](spark, sf_dir))
    assert rep["n_broadcast_joins"] >= 1
    assert rep["n_python_udfs"] == 0

    zipf = plan_audit(QUERIES["text_zipf_spectrum"](spark, sf_dir))
    assert zipf["n_python_udfs"] == 0


def test_rotated_subquery_plan_shapes(spark, sf_dir):
    """Plan locks for the round-6 rotation's subquery flagships: EXISTS
    must plan as a left semi join (orders never duplicate), NOT IN as a
    (null-aware) left anti join, the correlated scalar subqueries must
    decorrelate to partial aggregates (no per-row re-execution), and
    the edit-distance verify and transition matrix stay JVM-only."""
    from scala_data_pipeline_spark.plans.inspect import explain_str

    semi = explain_str(QUERIES["sql_late_orders_exists"](spark, sf_dir))
    assert "LeftSemi" in semi
    assert "CartesianProduct" not in semi

    anti = explain_str(QUERIES["sql_part_suppliers_anti"](spark, sf_dir))
    assert "LeftAnti" in anti
    assert "CartesianProduct" not in anti

    scalar = plan_audit(QUERIES["sql_orders_above_customer_avg"](spark, sf_dir))
    assert scalar["has_partial_agg"]
    assert scalar["n_python_udfs"] == 0

    edit = plan_audit(QUERIES["dedup_edit_distance"](spark, sf_dir))
    assert edit["n_python_udfs"] == 0  # levenshtein is a JVM builtin

    trans = plan_audit(QUERIES["event_transitions"](spark, sf_dir))
    assert trans["n_python_udfs"] == 0
    # lead window + pair agg + per-cur_type probability window.
    assert trans["n_shuffle_exchanges"] <= 3


def test_pivot_label_collision_raises():
    """Colliding sanitized pivot labels fail loudly instead of emitting
    two identically-named columns (round-13 review)."""
    import pytest

    from scala_data_pipeline_spark.operators.aggregates import (
        _checked_labels,
        pivot_counts_sql,
    )

    with pytest.raises(ValueError, match="sanitize to column"):
        _checked_labels(["a-b", "a_b"], prefix="")
    # quote-bearing values are escaped in the SQL twin
    sql = pivot_counts_sql("t", "k", "p", ["O'Brien"])
    assert "'O''Brien'" in sql


def test_recipe_funnel_reuses_exchanges(spark, sf_dir):
    """recipe_funnel_accounting's funnel stages share their upstream
    exchanges instead of recomputing them: the AQE final plan, read
    after an action, holds at least two ReusedExchange nodes."""
    df = QUERIES["recipe_funnel_accounting"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 2
