#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

The stdout line carries ONLY those five contract keys, compactly
serialized: the driver records a bounded stdout tail, and the full
line must fit inside it. The complete artifact — raw reps, spread,
semantics flags, the cores used — goes to $SPARK_GRAFT_BENCH_OUT.

``run`` is the rep protocol; ``scripts/drive.py time`` uses it for
named queries.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scala_data_pipeline_spark.queries import all_queries  # noqa: E402
from scala_data_pipeline_spark.session import (  # noqa: E402
    HITS,
    MISSES,
    default_parallelism,
    get_session,
)

# "_warm": every query gets one UNTIMED warm rep and the shared dedup
# hubs are pre-materialized, so timed reps of hub consumers measure the
# consumer plan over a warm hub, not hub construction. The metric was
# renamed when this started, so totals before it are not comparable.
METRIC = "headline_queries_total_noop_sink_warm"

# max_spread_pct ignores queries whose min rep is below this: at ~20 ms
# a single timer or GC blip reads as 200%+ relative spread while moving
# the total by nothing. Their raw reps stay in "runs".
SPREAD_FLOOR_SEC = 0.2


def hub_lookups() -> int:
    """Session hub lookups in this process so far, hits and builds; a
    query whose construction moves it reads a pre-materialized hub."""
    return HITS["hub"] + MISSES["hub"]


def codegen_compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far;
    a cache hit compiles nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def out_path() -> str:
    return os.environ.get("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_last.json")


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
    names = [n for n in HEADLINE if n in queries]
    names += [n for n in sorted(queries) if n not in names]

    # SPARK_GRAFT_BENCH_COLD=1 skips the hub warm-up and the per-query
    # warm rep: it measures first-execution cost including hub
    # materialization and codegen JIT. The artifact records the mode.
    cold = os.environ.get("SPARK_GRAFT_BENCH_COLD", "") == "1"
    runs, memoized, compiles = run(names, queries, sf_dir, cold)
    timings = {n: min(r) for n, r in runs.items()}
    total = round(sum(timings.values()), 3)
    # How noisy was this reading: max over queries of (max-min)/min.
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
        "metric": METRIC.replace("_warm", "_cold") if cold else METRIC,
        "value": total,
        "unit": "sec",
        "warm_rep": not cold,
        # Timed reps of these entries consume a pre-materialized
        # session hub: they measure the consumer plan, not hub
        # construction.
        "memoized": memoized,
        "queries": timings,
        # Raw reps and the worst spread, so a drifted reading can be
        # judged from the artifact itself.
        "runs": runs,
        # Classes compiled by the three timed reps: 0 when the warm rep
        # left every generated class in the codegen cache.
        "codegen_compiles": compiles,
        "max_spread_pct": spread_pct,
        "spread_floor_sec": SPREAD_FLOOR_SEC,
        # local[cpus] and the shuffle partitions the session ran with
        "cpus": default_parallelism(),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # Atomic write (tmp + rename): a killed bench never leaves a
    # half-written artifact for the gate to pick up.
    out = out_path()
    with open(out + ".tmp", "w") as f:
        json.dump(result, f, indent=2)
        f.write("\n")
    os.replace(out + ".tmp", out)
    # stdout: ONLY the five contract keys, compact — the driver's
    # stdout-tail capture is bounded (~2000 chars). 50 query timings
    # serialize to ~1500 chars this way.
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
        # Past ~60 queries even rounded timings overflow the tail: drop
        # the per-query detail, which the artifact keeps.
        contract["queries"] = {}
        line = json.dumps(contract, separators=(",", ":"))
    if len(line) > 1900:
        # Explicit raise, not assert: the driver may run python -O.
        raise SystemExit(f"contract line {len(line)} chars exceeds 1900")
    print(line)


def _noop(df) -> None:
    # The noop sink materializes EVERY output column; count() would let
    # Catalyst prune the final projection.
    df.write.format("noop").mode("overwrite").save()


def _warm_up(spark, sf_dir: str, cold: bool) -> None:
    """Pay the session costs before any timed rep: JVM and parquet
    footers, Python/Arrow worker spin-up (mapInPandas and the Python
    DataSource each launch workers on first use), MLlib class loading
    and, unless ``cold``, the two shared dedup hubs."""
    # The day-grain time-series queries use unpartitioned windows over
    # calendar-day-bounded frames (test_global_window_lint.py); their
    # "No Partition Defined for Window" WARNs would crowd the driver's
    # stdout tail. Only that one logger is quieted.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments: warnings are cosmetic here
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
    # The LSH candidate pairs and the shingle pair core are built once
    # per session and shared by ~10 queries; whichever consumer ran
    # first would otherwise pay the whole materialization in its rep.
    if not cold:
        from scala_data_pipeline_spark.queries.ext_dedup import (
            _lsh_pairs,
            _pair_core,
        )

        _lsh_pairs(spark, sf_dir)
        _pair_core(spark, sf_dir)


def run(
    names: list[str], queries: dict, sf_dir: str, cold: bool = False
) -> tuple[dict[str, list[float]], list[str], dict[str, int]]:
    """Time each named query in the bench session: warm-ups, then per
    query one untimed warm rep (skipped when ``cold``), gc, and three
    timed noop-sink reps. Returns the reps per query, the queries that
    consumed a session hub and the classes each query's timed reps
    compiled."""
    spark = get_session("bench")
    _warm_up(spark, sf_dir, cold)
    runs: dict[str, list[float]] = {}
    memoized: list[str] = []
    compiles: dict[str, int] = {}
    for name in names:
        lookups = hub_lookups()
        # The warm rep takes the one-off whole-stage-codegen JIT compile
        # (4x on wide plans), so the reps' spread shows container noise.
        if not cold:
            _noop(queries[name](spark, sf_dir))
        # Collect the warm rep's garbage before timing, or it lands in
        # the first timed rep.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # min-of-3: this container's CPU budget is bursty, and the min
        # recovers the uncontended number.
        reps: list[float] = []
        compiled = codegen_compiles(spark)
        for _ in range(3):
            start = time.perf_counter()
            df = queries[name](spark, sf_dir)
            _noop(df)
            reps.append(round(time.perf_counter() - start, 3))
            # Frees the storage of checkpointed index frames before the
            # next query.
            del df
            gc.collect()
        compiles[name] = codegen_compiles(spark) - compiled
        spark.sparkContext._jvm.System.gc()
        if hub_lookups() > lookups:
            memoized.append(name)
        runs[name] = reps
    return runs, sorted(memoized), compiles


if __name__ == "__main__":
    main()
