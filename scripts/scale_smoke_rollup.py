"""Scale smoke for the continuous-aggregate rollup chain
(operators/rollup.py + streaming/rollup_sink.py): the merge-on-read
partial design is the 100 TB continuous-aggregate shape, and this smoke
pins its two claims with a committed artifact:

1. **Merge-on-read cost scales with the PARTIAL store, not the corpus**:
   the partial store holds (hours x n_batches) rows regardless of how
   many raw events each batch contained, so reading the daily rollup
   from a 10x corpus's store and a 100x corpus's store costs the same.
2. **Batch == merged-partials bit-identity at 100x**: the additive
   stats are DECIMAL partials (associative), and the HLL register state
   is a max-merge (associative/commutative), so a store written as N
   independent appends must reproduce the single batch rollup EXACTLY —
   revenue to the bit, sketch estimates included.

Run:  python scripts/scale_smoke_rollup.py [n_copies] [n_batches]
Defaults: 100 copies of /root/testdata/sf0.1/events.parquet in 20
appends (each append = one micro-batch of the streaming sink).
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

from scala_data_pipeline_spark.operators.rollup import (  # noqa: E402
    daily_from_hourly,
    daily_distinct_users,
    hourly_rollup,
    hourly_user_sketches,
)
from scala_data_pipeline_spark.session import get_session  # noqa: E402
from scala_data_pipeline_spark.sources import load_table  # noqa: E402
from scala_data_pipeline_spark.streaming.rollup_sink import (  # noqa: E402
    read_daily_rollup,
    rollup_append_sink,
)


def synth_corpus(spark, n_copies: int, out: str) -> int:
    """n_copies replicas of sf0.1 events; user_id shifted per copy so
    the distinct-user sketch sees genuinely new users per replica."""
    base = load_table(spark, "/root/testdata/sf0.1", "events")
    copies = spark.range(n_copies).withColumnRenamed("id", "copy")
    (
        base.crossJoin(F.broadcast(copies))
        .select(
            "event_id",
            "ts",
            (F.col("user_id") + F.col("copy") * F.lit(10_000_000)).alias(
                "user_id"
            ),
            "event_type",
            "value",
            "copy",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(out)
    )
    return spark.read.parquet(out).count()


def build_store(spark, corpus_path: str, store: str, n_batches: int) -> list:
    """Replay the streaming sink: n_batches independent appends of
    hourly partials (exactly rollup_append_sink's foreachBatch body)."""
    corpus = spark.read.parquet(corpus_path)
    sink = rollup_append_sink(store)
    times = []
    for b in range(n_batches):
        batch = corpus.filter(F.col("copy") % n_batches == b).drop("copy")
        t0 = time.monotonic()
        sink(batch, b)
        times.append(round(time.monotonic() - t0, 2))
    return times


def main() -> None:
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_session(app_name=f"scale-smoke-rollup-{n_copies}x")
    spark.sparkContext.setLogLevel("ERROR")
    report: dict = {"n_copies": n_copies, "n_batches": n_batches}

    with tempfile.TemporaryDirectory() as tmp:
        n_rows = synth_corpus(spark, n_copies, f"{tmp}/corpus")
        report["corpus_rows"] = n_rows

        append_times = build_store(
            spark, f"{tmp}/corpus", f"{tmp}/store", n_batches
        )
        report["append_sec_total"] = round(sum(append_times), 1)
        report["partial_rows"] = spark.read.parquet(f"{tmp}/store").count()

        # a 10x-smaller store with the SAME batch count: merge-on-read
        # must cost the same, because both stores hold hours x batches
        # partial rows however large the corpus was
        small = max(n_copies // 10, 1)
        synth_corpus(spark, small, f"{tmp}/corpus_small")
        build_store(spark, f"{tmp}/corpus_small", f"{tmp}/store_small", n_batches)

        t0 = time.monotonic()
        merged = read_daily_rollup(spark, f"{tmp}/store").collect()
        report["t_merge_read_100x_sec"] = round(time.monotonic() - t0, 2)
        t0 = time.monotonic()
        read_daily_rollup(spark, f"{tmp}/store_small").collect()
        report["t_merge_read_10x_sec"] = round(time.monotonic() - t0, 2)

        # batch reference over the raw 100x corpus (the cost the
        # continuous aggregate amortizes away)
        corpus = spark.read.parquet(f"{tmp}/corpus")
        t0 = time.monotonic()
        batch = (
            daily_from_hourly(hourly_rollup(corpus))
            .join(
                daily_distinct_users(hourly_user_sketches(corpus)).select(
                    "bucket_day", "n_distinct_users_est"
                ),
                on="bucket_day",
            )
            .collect()
        )
        report["t_batch_rollup_100x_sec"] = round(time.monotonic() - t0, 2)

        got = {r.bucket_day: r for r in merged}
        want = {r.bucket_day: r for r in batch}
        assert set(got) == set(want), "day sets diverge"
        mismatches = 0
        for day, w in want.items():
            g = got[day]
            if not (
                g.revenue == w.revenue
                and g.n_events == w.n_events
                and g.n_purchases == w.n_purchases
                and g.n_distinct_users_est == w.n_distinct_users_est
            ):
                mismatches += 1
        report["days"] = len(want)
        report["bit_identical_days"] = len(want) - mismatches
        assert mismatches == 0, f"{mismatches} days diverge from batch"

    print(json.dumps(report), flush=True)


if __name__ == "__main__":
    main()
