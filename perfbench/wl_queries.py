"""``queries_sf0.1``: registry queries over the sf0.1 fixture.

The data is the sf0.1 test fixture that ``bench.py`` reads, kept verbatim
in ``data/sf0.1`` so that a run reads nothing outside its checkout. Each
query is built (``queries`` layer) and its result collected to the driver
(``operators``/``ext``/``functions`` run inside the plan).

One untimed pass first warms the session: each plan's first code
generation, the JIT and the registry's per-session caches. Cold, these
moved a pass's time by a fifth from run to run. Timed passes then run
while the next one is expected to end within the run's seconds, at least
one, each in an order drawn from the seed. A query's latency is its
median over the passes. The first timed pass's results are checked
against their DuckDB oracle twins, outside the timed region.
"""

from __future__ import annotations

import os
import random
import statistics
from types import SimpleNamespace

import harness
from spans import duration

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
# A run must fit a minute, so one query per family: the relational core,
# the SQL surface, a ranking operator that runs jobs while the query is
# built, event funnels and rank correlation.
QUERIES = (
    "flagship_datamart",
    "sql_shipping_priority",
    "segment_spend_deciles",
    "conversion_latency",
    "spearman_brand_price",
)


def check(result, oracle_sql: str, data: str, name: str) -> str | None:
    """None when a collected result equals its oracle, else the reason."""
    from tests.oracle_harness import compare, duckdb_run

    collected = SimpleNamespace(toPandas=lambda: result)  # what compare reads
    try:
        compare(collected, duckdb_run(oracle_sql, data), name)
    except AssertionError as exc:
        return str(exc)[:300]
    return None


def run(ctx: harness.Context, queries=QUERIES, data: str = DATA) -> dict:
    from scala_data_pipeline_spark.queries import all_oracles, all_queries
    from scala_data_pipeline_spark.sources.tables import load_table, register_views

    registry, oracles = all_queries(), all_oracles()
    rng = random.Random(ctx.seed)

    def load(spark):
        for name in ("lineitem", "events"):
            load_table(spark, data, name).count()
        register_views(spark, data)

    harness.setup(ctx, load)
    spark, tracer = ctx.spark, ctx.tracer

    samples: dict[str, list[float]] = {q: [] for q in queries}
    passes: list[list[dict]] = []
    results: dict[str, object] = {}
    failures: dict[str, str] = {}

    def one_pass(order, record: bool) -> list[dict]:
        ops = []
        for q in order:
            with tracer.span(q, trace_id=f"{q}#{len(passes)}", group=False) as op:
                try:
                    with tracer.span("construct"):
                        df = registry[q](spark, data)
                    with tracer.span("exec"):
                        result = df.toPandas()
                except Exception as exc:  # a failed query is a failed operation
                    failures.setdefault(q, repr(exc)[:300])
                    result = None
            if record:
                results.setdefault(q, result)
                samples[q].append(op["end"] - op["start"])
            ops.append(op)
        return ops

    one_pass(queries, record=False)
    ctx.mark("warmup")
    del tracer.spans[:]  # per-layer figures cover the timed passes only

    def timed_pass(_i: int) -> None:
        passes.append(one_pass(rng.sample(queries, len(queries)), record=True))

    harness.closed_loop(ctx, timed_pass)
    ctx.mark("timed")
    for q, result in results.items():
        if result is not None and (reason := check(result, oracles[q], data, q)):
            failures[q] = reason
    ctx.mark("check")
    tracer.resolve()

    per_query = {q: statistics.median(v) for q, v in samples.items()}
    latencies = [t for v in samples.values() for t in v]
    setup_s, layers = harness.setup_metrics(ctx)
    cycle_s = sum(per_query.values())
    return {
        "attempted": len(latencies),
        "failed": sum(len(samples[q]) for q in failures),
        "end_to_end": {
            "setup_s": setup_s,
            "cycle_s": cycle_s,
        },
        "layers": {**layers, **pass_layers(tracer.spans, passes), "trace.cycle_s": cycle_s},
        "detail": {
            "queries": list(queries),
            "passes": len(passes),
            "samples": len(latencies),
            "queries_total_s": cycle_s,
            "query_p50_s": harness.quantile(latencies, 50),
            "query_p80_s": harness.quantile(latencies, 80),
            "per_query_s": per_query,
            "rows": {q: None if r is None else len(r) for q, r in results.items()},
            "failures": failures,
        },
    }


def pass_layers(spans: list[dict], passes: list[list[dict]]) -> dict:
    """Per-pass construction and execution totals, median over passes."""
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    rows = []
    for ops in passes:
        children = [c for op in ops for c in by_parent.get(op["id"], [])]
        cons = [c for c in children if c["name"] == "construct"]
        execs = [c for c in children if c["name"] == "exec"]
        row = {
            "queries.construct_s": duration(cons),
            "queries.construct_py4j_sends": sum(c["sends"] for c in cons),
            "queries.construct_jobs": sum(c.get("jobs", 0) for c in cons),
            "exec.wall_s": duration(execs),
        }
        for k in ("jobs", "stages", "single_task_stages", "tasks",
                  "shuffle_write_bytes", "input_bytes"):
            row[f"exec.{k}"] = sum(c.get(k, 0) for c in execs)
        rows.append(row)
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}
