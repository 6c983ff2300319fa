#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The stdout line carries ONLY those five contract keys, compactly
serialized: the driver records a bounded stdout tail, and the full
line must fit inside it (the r13/r14 driver records were truncated
mid-"runs" → "parsed": null). The complete artifact — raw reps,
spread, extras, semantics flags — goes to $SPARK_GRAFT_BENCH_OUT.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scala_data_pipeline_spark.queries import all_queries  # noqa: E402
from scala_data_pipeline_spark.session import HITS, MISSES, get_session  # noqa: E402

# "_warm" suffix records the round-14 semantics change (the r12
# precedent: rename the metric when what it measures changes): every
# query now gets one UNTIMED warm rep, and the shared dedup hubs are
# pre-materialized — timed reps of hub consumers measure the consumer
# plan over a warm hub, not hub construction. Totals are therefore not
# 1:1 comparable with pre-r14 "headline_queries_total_noop_sink".
METRIC = "headline_queries_total_noop_sink_warm"


def hub_lookups() -> int:
    """Session hub lookups in this process so far, hits and builds; a
    query whose construction moves it reads a pre-materialized hub."""
    return HITS["hub"] + MISSES["hub"]


# Headline set: one per operator family; bench runs each to completion
# (a noop-sink write materializes the full plan including the final
# projection; results are not collected to the driver).
HEADLINE = [
    "flagship_datamart",
    "pricing_summary",
    "join_dims",
    "pivot_user_events",
    "topk_parts",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    queries = all_queries()
    # Named EXTRA_QUERIES can be benched alongside the driver set
    # ($SPARK_GRAFT_BENCH_EXTRAS="a,b"): the 10x scaling artifact keeps
    # its watch items (e.g. dedup_edit_distance after its round-13
    # demotion, dedup_span_excise after its round-14 one) without burning driver
    # correctness slots on them.
    extra_names = [
        n
        for n in os.environ.get("SPARK_GRAFT_BENCH_EXTRAS", "").split(",")
        if n
    ]
    if extra_names:
        from scala_data_pipeline_spark.queries import extra_queries

        eq = extra_queries()
        unknown = [n for n in extra_names if n not in eq]
        if unknown:
            raise SystemExit(
                f"SPARK_GRAFT_BENCH_EXTRAS names not in extra_queries():"
                f" {unknown} (did a rotation rename them?)"
            )
        for n in extra_names:
            queries[n] = eq[n]
    names = [n for n in HEADLINE if n in queries]
    names += [n for n in sorted(queries) if n not in names]

    spark = get_session("bench")
    # Scope the WindowExec logger to ERROR (r16 verdict item 5): the
    # day-grain time-series queries legitimately use unpartitioned
    # windows over calendar-day-bounded frames (enforced by
    # test_global_window_lint.py — the grain grows with time span, not
    # data volume), but their ~19 "No Partition Defined for Window"
    # WARNs per run risk crowding the driver's ~1900-char stdout tail.
    # Scoped to the one logger — everything else still warns.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: warnings are cosmetic here
    # Warmup so per-query numbers measure the plan, not session startup:
    # JVM + parquet footers, Python/Arrow worker spin-up (mapInPandas and
    # the Python DataSource each launch worker processes on first use),
    # and MLlib class-loading. On a long-lived cluster these are
    # amortized session costs, not per-query costs.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    spark.range(10).mapInPandas(lambda it: it, "id long").count()
    from scala_data_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)
    spark.read.format("synthetic_events").option("totalRows", "10").option(
        "numPartitions", "1"
    ).load().count()
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.linalg import Vectors

    warm = spark.createDataFrame(
        [(0.0, Vectors.dense([0.0])), (1.0, Vectors.dense([1.0]))] * 2,
        ["label", "features"],
    )
    LogisticRegression(maxIter=1).fit(warm)

    # Warm the two memoized dedup hubs (round-13 verdict item 5): the
    # LSH candidate-pair frame and the shingle pair core are built ONCE
    # per session (queries/ext_dedup.py) and shared by ~10 queries —
    # whichever consumer runs FIRST pays the whole materialization in
    # its rep 1 (dedup_contrastive_triplets measured 3.64/0.93/0.82 s
    # in the r13 artifact, 343% spread). On a production cluster the
    # hub is a materialized edge list between candidate generation and
    # verification (scripts/scale_smoke_pairs.py), a session cost, not
    # a per-query cost — amortize it like the other warmups above.
    # SPARK_GRAFT_BENCH_COLD=1 skips BOTH the hub warm and the
    # per-query untimed warm rep (round-14 advisor: the warm-path
    # totals measure consumer plans over warm hubs; the cold path
    # measures first-execution cost including hub materialization and
    # codegen JIT). The artifact records which mode ran.
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD", "") == "1"
    if not cold:
        from scala_data_pipeline_spark.queries.ext_dedup import (
            _lsh_pairs,
            _pair_core,
        )

        _lsh_pairs(spark, sf_dir)
        _pair_core(spark, sf_dir)

    # Two timed repetitions per query, report the min: the first run of
    # a wide query pays one-off whole-stage-codegen JIT compilation
    # (~seconds for 200-column plans), which on a long-lived cluster is
    # amortized across thousands of executions. min-of-2 measures the
    # steady-state plan instead of single-shot JVM compile noise
    # (unpivot_matrix_long measured 7.9 s cold vs 2.8 s steady on
    # identical code).
    import gc

    # Three reps (was two): this container's CPU budget is bursty —
    # identical plans measured 2.4 s and 5.3 s minutes apart in r6 —
    # and min-of-3 recovers the uncontended number far more reliably.
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    memoized: list[str] = []
    for name in names:
        lookups = hub_lookups()
        # One UNTIMED warm rep per query before the three timed ones
        # (round-13 verdict item 5): rep 1 of a wide plan pays one-off
        # whole-stage-codegen JIT compile (sim_semdedup_k1's 64-column
        # decimal centroid aggregate measured 13.0 s cold vs 3.3 s
        # steady — 4x, purely compile). min-of-3 already recovered the
        # steady-state number; the warm rep makes the published
        # per-query spread diagnose CONTAINER noise instead of JIT,
        # with min-of-3 semantics on the timed reps unchanged.
        if not cold:
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        # Collect the warm rep's garbage BEFORE timing (round-14: the
        # committed artifact's 135.6% max spread was one bursty FIRST
        # timed rep — GC debt from the warm rep landing in it).
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        reps: list[float] = []
        for _ in range(3):
            start = time.perf_counter()
            df = queries[name](spark, sf_dir)
            # noop sink materializes EVERY output column — df.count()
            # let Catalyst prune the final projection, flattering
            # wide-output queries (round-11 verdict measurement nit).
            df.write.format("noop").mode("overwrite").save()
            reps.append(round(time.perf_counter() - start, 3))
            # Release checkpointed index storage (SRP/graph queries
            # localCheckpoint their index frames; the RDD storage is
            # freed when the Python frame is GC'd — don't let it pile
            # onto later queries' memory budget).
            del df
            gc.collect()
        spark.sparkContext._jvm.System.gc()
        if hub_lookups() > lookups:
            memoized.append(name)
        timings[name] = min(reps)
        runs[name] = reps

    # Extras stay OUT of the headline total (round-13 review finding:
    # an artifact recorded with extras would otherwise read as a
    # regression against a no-extras round); their per-query rows stay
    # in "queries"/"runs" for the scaling report.
    total = round(
        sum(t for n, t in timings.items() if n not in extra_names), 3
    )
    # Spread diagnostic (round-12 verdict item 2): how noisy was this
    # reading? max over queries of (max-min)/min — gate readings
    # should agree on "queries" (min-of-3) even when single reps
    # drift 30-48% on this bursty container. Queries whose min rep is
    # below SPREAD_FLOOR_SEC are excluded from the MAX: at ~20 ms a
    # single 40 ms timer/GC blip reads as 200%+ relative spread while
    # moving the headline total by nothing (r14's 135.6% and a 223%
    # re-run were both sub-floor queries); their raw reps stay in
    # "runs" for self-adjudication.
    SPREAD_FLOOR_SEC = 0.2
    spread_pct = round(
        100.0
        * max(
            (
                (max(r) - min(r)) / min(r)
                if min(r) >= SPREAD_FLOOR_SEC
                else 0.0
            )
            for r in runs.values()
        ),
        1,
    )
    result = {
        # "noop_sink" records the round-12 action change (noop write,
        # not count()); "_warm" the round-14 one (untimed warm rep +
        # pre-warmed memoized hubs) — see METRIC above.
        "metric": METRIC.replace("_warm", "_cold") if cold else METRIC,
        "value": total,
        "unit": "sec",
        # Timed reps of these entries consume a pre-materialized
        # session hub (see hub_lookups): they measure the consumer
        # plan, not hub construction.
        "warm_rep": not cold,
        "memoized": sorted(memoized),
        "queries": timings,
        # Per-query raw reps + worst per-query rep spread, so a
        # drifted single reading can be adjudicated from the
        # artifact itself instead of a re-measurement round.
        "runs": runs,
        "max_spread_pct": spread_pct,
        # max_spread_pct considers only queries with min rep >= this
        # (sub-floor relative spread is timer noise, see above).
        "spread_floor_sec": SPREAD_FLOOR_SEC,
        # which queries rode along via SPARK_GRAFT_BENCH_EXTRAS
        # (excluded from "value"); [] on a plain driver run
        "extras": extra_names,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Write the result to a FILE as well as stdout (round-13 verdict
    # item 2: the committed BENCH_r13.json was stdout-scraped and
    # truncated mid-JSON — "parsed": null, headline total missing).
    # Atomic write (tmp + rename) so a killed bench never leaves a
    # half-written artifact for the gate to pick up.
    out_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", "/tmp/bench_last.json"
    )
    tmp_path = out_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    os.replace(tmp_path, out_path)
    # stdout: ONLY the five contract keys, compact separators — the
    # driver's stdout-tail capture is bounded (~2000 chars) and the
    # full-artifact line blew past it in r13/r14 ("parsed": null).
    # 50 query timings serialize to ~1500 chars this way.
    contract = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
    }
    line = json.dumps(contract, separators=(",", ":"))
    if len(line) > 1900:
        # Never exceed the tail: shed precision before keys.
        contract["queries"] = {
            k: round(v, 2) for k, v in contract["queries"].items()
        }
        line = json.dumps(contract, separators=(",", ":"))
    if len(line) > 1900:
        # Final shed (advisor r15): past ~60 queries even rounded
        # timings overflow the tail — drop per-query detail entirely
        # (it survives in the SPARK_GRAFT_BENCH_OUT artifact) rather
        # than reintroduce the parsed:null truncation.
        contract["queries"] = {}
        line = json.dumps(contract, separators=(",", ":"))
    if len(line) > 1900:
        # Explicit raise, not assert: the driver may run python -O,
        # which strips asserts — this guard must survive (advisor r16).
        raise SystemExit(f"contract line {len(line)} chars exceeds 1900")
    print(line)


if __name__ == "__main__":
    main()
