"""Physical-plan inspection: the feedback loop for the 100 TB posture.

``plan_audit`` extracts the signals that matter at scale from
``explain("formatted")`` output:

- exchanges (shuffles) — every one is a full network+disk pass at scale;
- broadcast joins vs sort-merge joins — dimension joins must broadcast;
- pushed filters / read schema on parquet scans — a scan without
  PushedFilters/narrow ReadSchema reads the whole table;
- whole-stage codegen coverage — Python UDFs puncture it. AQE inserts
  WholeStageCodegen only as it plans each stage, so ``plan_audit``
  reads this one count from the final adaptive plan, after the query
  has run; ``plan_shape`` reads the rest without running anything.

Used by tests/test_plans.py to LOCK the plan shape of headline queries:
a regression that adds a shuffle or loses pushdown fails CI, not the
100 TB run.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _python_ops(plan: str) -> int:
    # Row-at-a-time UDFs, Arrow-vectorized UDFs, AND the grouped/
    # iterator Pandas operators (applyInPandas → FlatMapGroupsInPandas,
    # mapInPandas → MapInPandas) — an audit that misses the latter two
    # under-reports Python on the hot path.
    return sum(
        plan.count(op)
        for op in (
            "BatchEvalPython",
            "ArrowEvalPython",
            "FlatMapGroupsInPandas",
            "MapInPandas",
        )
    )


def plan_shape(df: DataFrame) -> dict:
    """The plan signals of ``df`` read from its plan before execution:
    nothing runs, so the same query over the same data gives the same
    values on every call."""
    plan = explain_str(df)
    # Formatted mode numbers nodes as "(N) Exchange"; a bare Exchange is a
    # shuffle, BroadcastExchange is not.
    return {
        "n_shuffle_exchanges": len(re.findall(r"^\(\d+\) Exchange\b", plan, re.M)),
        "n_broadcast_joins": plan.count("BroadcastHashJoin"),
        "n_sortmerge_joins": plan.count("SortMergeJoin"),
        "n_python_udfs": _python_ops(plan),
        "has_partial_agg": "partial_" in plan,
        "has_pushed_filters": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\]", plan),
        "scan_schemas": re.findall(r"ReadSchema: (struct<[^\n]*)", plan),
        "plan": plan,
    }


def plan_audit(df: DataFrame) -> dict:
    """:func:`plan_shape` plus ``codegen_stages``, counted on the final
    adaptive plan: when the plan is adaptive and not yet final, ``df``
    is collected first. AQE's runtime choices can move that count from
    one run to the next."""
    shape = plan_shape(df)
    simple = explain_str(df, mode="simple")
    if "isFinalPlan=false" in simple:
        df.collect()
        simple = explain_str(df, mode="simple")
    # Simple mode marks codegen with "*(id)".
    shape["codegen_stages"] = len(set(re.findall(r"\*\((\d+)\)", simple)))
    return shape


def plan_lint(df: DataFrame) -> list[dict]:
    """Static lint over a DataFrame's physical plan — the checks
    tests/test_no_cartesian.py and the plan-audit table apply to the
    registry, exposed as an API so a pipeline can gate ITS OWN queries
    before submitting them to a cluster. Returns one finding dict per
    issue: {"rule", "severity", "detail"}; empty list = clean.

    Rules (each a cluster-scale failure mode):
    - cartesian-product: an unconditioned join — O(n·m) at any scale.
    - python-in-plan:    row/Arrow Python eval operators — the 10-100x
                         slow path; fine when deliberate (UDF parity,
                         mapInPandas decode), fatal when accidental.
    - global-window:     a window with no partitioning — funnels the
                         frame through ONE task; fine on day-grain or
                         per-key-aggregated frames, fatal on a corpus.
    - no-pushdown:       a parquet scan with filters in the plan but
                         an empty PushedFilters — the scan reads
                         everything a predicate could have skipped.
    """
    plan = explain_str(df)
    # simple mode spells single-partition exchanges inline
    # ("Exchange SinglePartition"); formatted mode splits node and
    # arguments across lines.
    simple = explain_str(df, mode="simple")
    n_python = _python_ops(plan)
    findings: list[dict] = []
    if "CartesianProduct" in plan:
        findings.append(
            {
                "rule": "cartesian-product",
                "severity": "error",
                "detail": "plan contains CartesianProduct",
            }
        )
    if n_python:
        findings.append(
            {
                "rule": "python-in-plan",
                "severity": "warn",
                "detail": f"{n_python} Python eval operator(s)"
                " in the plan (BatchEval/ArrowEval/MapInPandas/"
                "FlatMapGroupsInPandas)",
            }
        )
    # Tie the global-window rule to the Window node's OWN child exchange:
    # two independent substring tests flagged any plan that had both a
    # properly partitioned window and an unrelated single-partition
    # exchange (final global aggregate, limit, global sort). A Window
    # over an empty partitionBy plans as Window -> Sort -> Exchange
    # SinglePartition, so look only a few lines below each Window node
    # and stop at the first hash-partitioned exchange (a keyed window's
    # own shuffle).
    global_window = False
    lines = simple.splitlines()
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow\b", ln):
            continue
        for nxt in lines[i + 1 : i + 4]:
            if "Exchange SinglePartition" in nxt:
                global_window = True
                break
            if "Exchange hashpartitioning" in nxt:
                break
        if global_window:
            break
    if global_window:
        findings.append(
            {
                "rule": "global-window",
                "severity": "warn",
                "detail": "window with no partitionBy funnels the frame"
                " through a single task (fine on aggregated grains,"
                " fatal on a corpus)",
            }
        )
    if "PushedFilters: []" in plan and re.search(r"^\(\d+\) Filter ", plan, re.M):
        findings.append(
            {
                "rule": "no-pushdown",
                "severity": "info",
                "detail": "a scan has an empty PushedFilters while the"
                " plan filters rows — check the predicate is"
                " pushdown-eligible",
            }
        )
    return findings
