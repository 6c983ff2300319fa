"""100x scale smoke for the carried-state transition maintenance.

Synthesizes 100x the sf0.1 events volume by cloning the event stream
across shifted user-id spaces (per-user sequence lengths — the window
workload — stay realistic; the user population, i.e. the STATE SIZE,
grows 100x, which is exactly the axis that must stay bounded), splits
it into 3 event-time batches, folds them through
``transitions_batch_update``, and asserts the accumulated counts match
the single-pass batch matrix exactly.

Run:  python scripts/scale_smoke_transitions.py [n_copies] [sf_dir]
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402
from scala_data_pipeline_spark.streaming.transitions import (  # noqa: E402
    merge_deltas,
    transitions_batch_update,
)


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_session(app_name=f"scale-smoke-transitions-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")

    base = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    events = base.crossJoin(F.broadcast(copies)).select(
        (F.col("event_id") * n_copies + F.col("copy")).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("copy") * 1_000_000).alias("user_id"),
        "event_type",
    ).repartition(64).localCheckpoint(eager=True)

    report = {"n_copies": n_copies, "n_events": events.count()}

    sec = F.unix_timestamp("ts")
    t1, t2 = events.select(sec.alias("s")).approxQuantile(
        "s", [1 / 3, 2 / 3], 0.0
    )
    batches = [
        events.filter(sec < t1),
        events.filter((sec >= t1) & (sec < t2)),
        events.filter(sec >= t2),
    ]

    t0 = time.monotonic()
    state = None
    deltas = []
    for i, b in enumerate(batches):
        delta, state = transitions_batch_update(b, state)
        state = state.localCheckpoint(eager=True)
        deltas.append(delta.localCheckpoint(eager=True))
        print(f"[smoke] batch {i}: state rows={state.count()}", flush=True)
    inc = {
        (r["cur_type"], r["next_type"]): r["n_transitions"]
        for r in merge_deltas(deltas).collect()
    }
    report["t_incremental"] = round(time.monotonic() - t0, 1)
    report["state_rows"] = state.count()

    t0 = time.monotonic()
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = {
        (r["cur_type"], r["next_type"]): r["n"]
        for r in events.select(
            F.col("event_type").alias("cur_type"),
            F.lead("event_type").over(w).alias("next_type"),
        )
        .filter(F.col("next_type").isNotNull())
        .groupBy("cur_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    report["t_batch"] = round(time.monotonic() - t0, 1)
    report["n_transitions"] = sum(inc.values())
    report["exact_match"] = inc == batch
    print(json.dumps(report), flush=True)
    assert inc == batch, "incremental fold diverged from batch"


if __name__ == "__main__":
    main()
