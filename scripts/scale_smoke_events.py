"""100x scale smoke for the event-stat operators added in round 7.

Replicates the sf0.1 events table n_copies times (event/user ids
shifted per copy, timestamps jittered per copy so the value/time
domains stay realistic) and times:

- ks_value_drift's two halves (per-value counts -> KS finish): the
  corpus-sized work is ONE conditional aggregate; the cumulative
  window runs on the bounded cent-value grain, which must NOT grow
  with the corpus.
- twap_user_value: lead window + groupBy sharing one user-key shuffle.

Run:  python scripts/scale_smoke_events.py [n_copies]
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from scala_data_pipeline_spark.queries.tsstats_infer import (  # noqa: E402
    ks_from_value_counts,
    ks_value_counts,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    spark = get_session(app_name=f"scale-smoke-events-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies}

    with tempfile.TemporaryDirectory() as tmp:
        base = load_table(spark, "/root/testdata/sf0.1", "events")
        copies = spark.range(n_copies).withColumnRenamed("id", "copy")
        (
            base.crossJoin(F.broadcast(copies))
            .select(
                (F.col("event_id") * n_copies + F.col("copy")).alias(
                    "event_id"
                ),
                # per-copy second-offset so per-user event times stay
                # distinct and TWAP durations are realistic
                (F.col("ts") + F.make_interval(secs=F.col("copy"))).alias(
                    "ts"
                ),
                (F.col("user_id") * n_copies + F.col("copy")).alias(
                    "user_id"
                ),
                "event_type",
                "value",
                "props",
            )
            .repartition(64)
            .write.mode("overwrite")
            .parquet(f"{tmp}/events")
        )
        events = spark.read.parquet(f"{tmp}/events")
        report["n_events"] = events.count()

        def timed(name, fn):
            t0 = time.monotonic()
            out = fn()
            report[name] = {
                "sec": round(time.monotonic() - t0, 1),
                "out": out,
            }

        timed(
            "ks_value_counts_grain",
            lambda: ks_value_counts(events).count(),
        )
        timed(
            "ks_full",
            lambda: ks_from_value_counts(ks_value_counts(events))
            .collect()[0]
            .asDict(),
        )

        from scala_data_pipeline_spark.queries.tsstats_infer import twap_user_value

        # twap_user_value loads from a sf_dir; time the operator body
        # over the replicated frame directly instead.
        from pyspark.sql import Window

        def twap_big():
            w = Window.partitionBy("user_id").orderBy("ts", "event_id")
            nxt = F.lead("ts").over(w)
            stepped = events.filter(F.col("user_id").isNotNull()).select(
                "user_id",
                (F.unix_micros(nxt) - F.unix_micros(F.col("ts"))).alias(
                    "dur_us"
                ),
                F.col("value").cast("decimal(18,2)").alias("v"),
            ).filter(F.col("dur_us").isNotNull())
            return (
                stepped.groupBy("user_id")
                .agg(
                    F.sum(F.col("v") * F.col("dur_us")).alias("num"),
                    F.sum("dur_us").cast("long").alias("den_us"),
                )
                .count()
            )

        timed("twap_users", twap_big)

    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
