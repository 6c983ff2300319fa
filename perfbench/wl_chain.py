"""``pipeline_chain``: the reference modules, stage by stage.

Each stage calls a public function of the ``jobs`` or ``streaming``
layer on generated files and writes its output to disk:

  users_items ``users_items_job.run``: the users×items matrix of the events
  train       ``mlproject_job.train`` on the documents
  dashboard   ``dashboard_job.run``: load the model, score the documents
  agg         ``streaming.windowed.revenue_window_agg`` over a file stream
              of generated events, some of them late, read to the end
              (see ``agg_stage``)

The chain runs once per run, in the freshly set-up session, the way each
reference module runs as a job of its own: its time includes the first
code generation and the ML classes' first use (about a third of it at
these sizes), and a second, warm cycle would not fit a run. For the same
reason ``filter``, ``features`` and ``data_mart`` are left out, and
``users_items`` builds the matrix once, from the events table rather than
``filter``'s JSON, without the ``update=True`` merge of a last day: with
them a cold chain took 55-65 s on 4 cores. The outputs are checked after
it, outside the timed span.
"""

from __future__ import annotations

from contextlib import contextmanager

import pyarrow.compute as pc
import pyarrow.parquet as pq

import agg_stage
import gen
import harness
from spans import duration

N_EVENTS = 40_000
N_USERS = 4_000
N_DOCS = 500
VOCAB = 1_000
STREAM_FILES = 3
STREAM_ROWS = 2_000  # per file, so per micro-batch
STAGES = ("users_items", "train", "dashboard", "agg")


def expected(data: str) -> dict:
    """Output invariants computed from the generated files alone."""
    events = pq.read_table(f"{data}/events.parquet", columns=["user_id", "event_type"])
    kinds = events.column("event_type").to_pylist()
    return {
        "cells": sum(k in ("view", "purchase") for k in kinds),
        "documents": pq.read_metadata(f"{data}/documents.parquet").num_rows,
    }


def cycle(spark, data: str, stream_files: list[str], out: str, stage,
          failures: dict[str, str]) -> dict:
    """One pass of the chain; ``stage(name)`` opens the span of a stage.
    A stage that raises is recorded in ``failures`` and the chain goes on.
    Returns the paths and the stream run id the checks read."""
    from scala_data_pipeline_spark.jobs import dashboard_job, mlproject_job, users_items_job
    from scala_data_pipeline_spark.ml.pipeline import (
        prepare_inference_frame,
        prepare_training_frame,
    )
    from scala_data_pipeline_spark.sources.tables import load_table

    @contextmanager
    def guarded(name: str):
        with stage(name):
            try:
                yield
            except Exception as exc:  # a raising stage is a failed operation
                failures[name] = repr(exc)[:300]

    paths = {"matrix": None, "out": out, "stream": stream_files, "run_id": None}
    with guarded("users_items"):
        paths["matrix"] = users_items_job.run(load_table(spark, data, "events"), f"{out}/ui")

    docs = load_table(spark, data, "documents")
    with guarded("train"):
        mlproject_job.train(prepare_training_frame(docs), f"{out}/model", vocab_size=VOCAB)

    with guarded("dashboard"):
        dashboard_job.run(f"{out}/model", prepare_inference_frame(docs), f"{out}/predictions")

    with guarded("agg"):
        paths["run_id"] = agg_stage.stage(
            spark, stream_files, f"{out}/agg-checkpoint", "perfbench_agg"
        )
    return paths


def rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def check(spark, paths: dict, want: dict, n_batches: int, failures: dict[str, str]) -> None:
    """Add to ``failures`` the reason each stage's output is wrong; stages
    that raised are not checked. The batch outputs are read with pyarrow,
    so checking adds no Spark jobs; the stream's check runs the aggregate
    as a Spark batch."""
    if "users_items" not in failures:
        matrix = pq.read_table(paths["matrix"])
        cells = sum(
            pc.sum(matrix.column(c)).as_py() or 0
            for c in matrix.column_names if c != "user_id"
        )
        if cells != want["cells"]:
            failures["users_items"] = (
                f"matrix cells {cells} != {want['cells']} view/purchase events"
            )
    if "dashboard" not in failures:
        predictions = rows(f"{paths['out']}/predictions")
        if predictions != want["documents"]:
            failures["dashboard"] = f"{predictions} predictions for {want['documents']} documents"
    if "agg" not in failures:
        if n_batches != len(paths["stream"]):
            failures["agg"] = f"{n_batches} micro-batches for {len(paths['stream'])} files"
        elif reason := agg_stage.check(spark, "perfbench_agg", paths["stream"]):
            failures["agg"] = reason


def run(ctx: harness.Context, n_events: int = N_EVENTS, n_users: int = N_USERS,
        n_docs: int = N_DOCS, n_stream_files: int = STREAM_FILES) -> dict:
    from scala_data_pipeline_spark.sources.tables import load_table

    data = ctx.path("chain-in")
    gen.chain_inputs(data, ctx.seed, n_events, n_users, n_docs)
    stream = gen.stream_files(ctx.path("stream-in"), ctx.seed, n_stream_files, STREAM_ROWS)
    want = expected(data)
    ctx.mark("generate")

    def load(spark):
        for name in ("events", "documents"):
            load_table(spark, data, name).count()

    harness.setup(ctx, load)
    spark, tracer = ctx.spark, ctx.tracer
    log = agg_stage.ProgressLog()
    spark.streams.addListener(log.listener)

    failures: dict[str, str] = {}
    with tracer.span("cycle", group=False) as chain:
        paths = cycle(spark, data, stream, ctx.path("chain-out"), tracer.span, failures)
    ctx.mark("timed")
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    batches = log.batches(paths["run_id"])
    spark.streams.removeListener(log.listener)
    check(spark, paths, want, len(batches), failures)
    ctx.mark("check")
    tracer.resolve()
    for p in batches:
        tracer.add("micro_batch", p["seen"] - p["duration_ms"]["triggerExecution"] / 1000,
                   p["seen"], trace_id=f"batch#{p['batch_id']}", **p)

    stages = {s["name"]: s for s in tracer.spans if s["parent"] == chain["id"]}
    stage_s = {name: s["end"] - s["start"] for name, s in stages.items()}
    cycle_s = chain["end"] - chain["start"]
    setup_s, layers = harness.setup_metrics(ctx)
    # The stream's jobs run under its run id as job group, not the agg span's.
    stream_counts = tracer.counts(paths["run_id"]) if paths["run_id"] else {}
    layers.update(stage_layers(stages, stream_counts))
    layers.update(agg_stage.layers(batches, stream_counts.get("tasks", 0)))
    return {
        "attempted": len(STAGES),
        "failed": len(failures),
        "end_to_end": {
            "setup_s": setup_s,
            "cycle_s": cycle_s,
        },
        "layers": {**layers, "trace.cycle_s": cycle_s},
        "detail": {
            "pipeline_s": cycle_s,
            "stage_s": stage_s,
            "stream_rows_per_s": sum(p["rows"] for p in batches) / stage_s["agg"],
            "stream_batch_ms": [p["duration_ms"]["triggerExecution"] for p in batches],
            "expected": want,
            "failures": failures,
        },
    }


def stage_layers(stages: dict[str, dict], stream_counts: dict) -> dict:
    """Per-stage, ML and execution totals of the chain's stage spans and
    the stream's job group."""
    ui = stages["users_items"]
    out = {"jobs.users_items_s": ui["end"] - ui["start"]}
    for k in ("jobs", "tasks", "shuffle_write_bytes", "output_bytes"):
        out[f"jobs.users_items_{k}"] = ui.get(k, 0)
    out["ml.train_s"] = stages["train"]["end"] - stages["train"]["start"]
    out["ml.score_s"] = stages["dashboard"]["end"] - stages["dashboard"]["start"]
    out["ml.train_jobs"] = stages["train"].get("jobs", 0)
    for k in ("jobs", "stages", "single_task_stages", "tasks",
              "shuffle_write_bytes", "input_bytes"):
        out[f"exec.{k}"] = sum(s.get(k, 0) for s in stages.values()) + stream_counts.get(k, 0)
    out["exec.wall_s"] = duration(list(stages.values()))
    return out
